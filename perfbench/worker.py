"""One benchmark process: build the session, run a workload's iterations,
check every iteration's outputs, and print one JSON result line.

Started by ``run.py``; prints ``READY`` once the library is imported and
the session is up, so the parent can time set-up from process start.
With ``--setup-only`` it stops there; with ``--cold-only``, after the first
(cold) iteration.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

from flnr_wins_spark.session import get_spark  # noqa: E402

import workloads  # noqa: E402
from spans import Tracer  # noqa: E402

MIN_SAMPLES = 3  # timed samples per run
WARMUP = 2  # iterations after the cold one dropped as warm-up


JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")  # /proc comm, 15 chars


def _ticks(path: str) -> tuple[str, list[int]]:
    """(comm, fields after comm) of a /proc stat file."""
    with open(path) as fh:
        head, rest = fh.read().rsplit(")", 1)
    return head.split("(", 1)[1], [int(x) for x in rest.split()[1:15]]


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system, live and reaped children) of ``root`` and
    every process below it, leaving out the JVM's JIT compiler threads:
    compilation is warm-up, not the program's work."""
    stats: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                stats[int(name)] = _ticks(f"/proc/{name}/stat")[1]
            except OSError:
                continue  # exited while listing
    kids: dict[int, list[int]] = {}
    for pid, f in stats.items():
        kids.setdefault(f[0], []).append(pid)
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, ()))
        if pid not in stats:
            continue
        total += sum(stats[pid][10:14])  # utime, stime, cutime, cstime
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            try:
                comm, f = _ticks(f"/proc/{pid}/task/{tid}/stat")
            except OSError:
                continue
            if comm in JIT_THREADS:
                total -= f[10] + f[11]
    return total / os.sysconf("SC_CLK_TCK")


def quartiles(xs: list[float]) -> list[float]:
    if len(xs) < 2:
        return [xs[0]] * 3 if xs else []
    return statistics.quantiles(xs, n=4, method="inclusive")


class Runner:
    def __init__(self, spark, workload, trace: bool):
        self.spark = spark
        self.wl = workload
        self.tracer = Tracer(spark, trace)
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.pid = os.getpid()

    def iteration(self):
        """One timed iteration; returns (wall_s, cpu_s, spans, counters)."""
        self.wl.reset()
        gc.collect()
        self.spark.sparkContext._jvm.System.gc()
        self.attempted += 1
        c0 = tree_cpu_s(self.pid)
        t0 = time.perf_counter()
        try:
            out = self.wl.run(self.tracer)
        except Exception:  # a failed iteration counts against ok_share
            self.failed += 1
            self.failures.append(traceback.format_exc(limit=3)[-1500:])
            self.tracer.collect()
            return None
        wall = time.perf_counter() - t0
        cpu = tree_cpu_s(self.pid) - c0
        spans = self.tracer.collect()
        try:
            fails = self.wl.check(out)
            counters = self.wl.counters(out) if self.tracer.enabled else {}
        except Exception:
            fails = [traceback.format_exc(limit=3)[-1500:]]
            counters = {}
        if fails:
            self.failed += 1
            self.failures.extend(fails[:5])
        return wall, cpu, spans, counters

    def loop(self, seconds: float, min_samples: int, deadline: float):
        """Iterate until ``seconds`` have passed and ``min_samples`` iterations
        follow the ``WARMUP`` ones (or ``deadline``); returns (all results,
        number of warm-up results). A fixed warm-up makes every run sample the
        same stretch of the JIT warm-up curve."""
        start = time.perf_counter()
        results = []
        while True:
            r = self.iteration()
            if r is not None:
                results.append(r)
            cut = min(len(results), WARMUP)
            now = time.perf_counter()
            if now - start >= seconds and len(results) - cut >= min_samples:
                return results, cut
            if now >= deadline:
                return results, cut


def summary(xs: list[float]) -> dict:
    return {"median": statistics.median(xs) if xs else None, "n": len(xs),
            "quartiles": quartiles(xs)}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--work", required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--deadline", type=float, default=150.0)
    ap.add_argument("--setup-only", action="store_true")
    ap.add_argument("--cold-only", action="store_true")
    args = ap.parse_args()
    deadline = time.perf_counter() + args.deadline

    t0 = time.perf_counter()
    spark = get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
            "spark.driver.extraJavaOptions": "-XX:-UsePerfData -Xms2g -XX:+UseParallelGC "
            "-XX:-UseDynamicNumberOfCompilerThreads "
            f"-Djava.io.tmpdir={os.environ['TMPDIR']}",
        },
    )
    get_spark_s = time.perf_counter() - t0
    print("READY", flush=True)
    jvm = spark.sparkContext._gateway.proc
    if args.setup_only:
        jvm.kill()
        jvm.wait()
        return 0
    spark.sparkContext.setLogLevel("ERROR")

    with open(os.path.join(args.work, "manifest.json")) as fh:
        manifest = json.load(fh)
    wl = workloads.WORKLOADS[args.workload](spark, manifest, args.work)
    runner = Runner(spark, wl, trace=False)

    first = runner.iteration()
    result = {"get_spark_s": get_spark_s, "first_run_s": first[0] if first else None}
    if not (args.trace or args.cold_only):
        results, cut = runner.loop(args.seconds, MIN_SAMPLES, deadline)
        warm = results[cut:]
        result["run_s"] = summary([r[0] for r in warm])
        result["cpu_s"] = summary([r[1] for r in warm])
        result["warmup_iterations"] = cut
        result["iteration_s"] = [round(r[0], 4) for r in results]
        result["iteration_cpu_s"] = [round(r[1], 2) for r in results]
    elif args.trace:
        # warm up untraced, then alternate untraced and traced iterations so
        # both sit at the same point of the warm-up curve; the gap between
        # their medians is the tracing overhead
        runner.loop(0.0, 1, deadline)
        untraced, traced = [], []
        start = time.perf_counter()
        while time.perf_counter() < deadline and (
            len(traced) < MIN_SAMPLES or time.perf_counter() - start < args.seconds
        ):
            for on, into in ((False, untraced), (True, traced)):
                runner.tracer.enabled = on
                r = runner.iteration()
                if r is not None:
                    into.append(r)
        layers: dict[str, list[float]] = {}
        for _, _, spans, counters in traced:
            for k, v in {**spans, **counters}.items():
                layers.setdefault(k, []).append(v)
        result["layers"] = {k: statistics.median(v) for k, v in layers.items()}
        result["untraced_run_s"] = summary([r[0] for r in untraced])
        result["traced_run_s"] = summary([r[0] for r in traced])
        result["layers"]["trace.overhead_share"] = (
            result["traced_run_s"]["median"] / result["untraced_run_s"]["median"] - 1.0
        )
    result["write_amp"] = wl.write_amp()
    result["attempted"] = runner.attempted
    result["failed"] = runner.failed
    result["failures"] = runner.failures[:10]
    # every output is written and checked: nothing is left for an orderly
    # shutdown to flush
    jvm.kill()
    jvm.wait()
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
