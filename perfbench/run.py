"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Generates the workload's inputs from the seed
(untimed), measures session set-up and the cold first iteration in fresh
processes, one at a time, runs the warm iterations in the last of them
(``worker.py``), and prints as its last stdout line one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` — the
end-to-end metrics of ``BENCHMARK.json`` with ``--trace 0``, its per-layer
metrics with ``--trace 1``. The line before it is a detail record (sample
counts, quartiles, the load witness); the same record is kept under
``.bench_build/perfbench/results/``.

All work files live under ``.bench_build/perfbench/`` in the repository
root; every process started is stopped and waited for before exit.
"""

from __future__ import annotations

import argparse
import json
import os
import queue
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BASE = os.path.join(ROOT, ".bench_build", "perfbench")
SPARK_CORES = 2  # local[N]; never more than the host's CPUs
SETUP_SAMPLES = 3  # fresh processes per run; the median is setup_s
COLD_SAMPLES = 2  # of them run a cold iteration; the median is first_run_s
TIME_LIMIT = 170.0  # the whole run, seconds


def cpu_times() -> list[int]:
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def witness(before: list[int], cores: int, seed: int) -> dict:
    """Host-load record: tells host weather from a code change."""
    after = cpu_times()
    delta = [b - a for a, b in zip(before, after)]
    return {
        "load_1m": os.getloadavg()[0],
        "steal_share": delta[7] / max(1, sum(delta)),
        "busy_share": 1 - (delta[3] + delta[4]) / max(1, sum(delta)),
        "spark_cores": cores,
        "host_cpus": len(os.sched_getaffinity(0)),
        "seed": seed,
    }


def stop_group(proc: subprocess.Popen, grace: float = 20.0) -> None:
    """Wait for ``proc`` and everything in its process group (the JVM and
    Python workers) to end; terminate whatever outlives ``grace``."""
    pgid = proc.pid
    end = time.monotonic() + grace
    sig = 0
    while True:
        if proc.poll() is None and time.monotonic() > end:
            proc.kill()
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            break
        if time.monotonic() > end:
            sig = signal.SIGKILL
        time.sleep(0.05)
    proc.wait()


def spawn(args: list[str], env: dict, cwd: str, log: str) -> subprocess.Popen:
    with open(log, "ab") as err:
        return subprocess.Popen(
            [sys.executable, os.path.join(HERE, "worker.py"), *args],
            stdout=subprocess.PIPE, stderr=err, env=env, cwd=cwd,
            start_new_session=True, text=True,
        )


def run_worker(args: list[str], env: dict, cwd: str, log: str, limit: float):
    """Start a worker; returns (seconds from start to READY, last stdout line)."""
    t0 = time.perf_counter()
    proc = spawn(args, env, cwd, log)
    lines: queue.Queue = queue.Queue()

    def pump():
        for line in proc.stdout:
            lines.put((time.perf_counter(), line.strip()))
        lines.put((time.perf_counter(), None))

    reader = threading.Thread(target=pump, daemon=True)
    reader.start()
    ready, last = None, None
    try:
        while True:
            at, line = lines.get(timeout=max(0.1, limit - (time.perf_counter() - t0)))
            if line is None:
                break
            if line == "READY" and ready is None:
                ready = at - t0
            elif line:
                last = line
    except queue.Empty:
        sys.stderr.write(f"perfbench: worker exceeded {limit:.0f} s\n")
    except BaseException:  # interrupted: take the worker's group down at once
        os.killpg(proc.pid, signal.SIGKILL)
        raise
    finally:
        stop_group(proc, grace=max(1.0, limit - (time.perf_counter() - t0)))
        reader.join(timeout=5)
        proc.stdout.close()
    if proc.returncode != 0 or ready is None:
        with open(log, errors="replace") as fh:
            sys.stderr.write(fh.read()[-4000:])
        raise RuntimeError(f"worker {args[:2]} exited with {proc.returncode}")
    return ready, last


def main() -> int:
    # a terminated run still stops its workers (run_worker's handlers)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    start = time.perf_counter()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(os.path.join(ROOT, "flnr_wins_spark", "__init__.py")):
        sys.stderr.write("perfbench: the flnr_wins_spark package is not next to perfbench/\n")
        return 2
    with open(spec_path) as fh:
        spec = json.load(fh)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        sys.stderr.write(f"perfbench: unknown workload {args.workload!r}\n")
        return 2

    work, env, log = prepare(f"{args.workload}-{args.seed}-{os.getpid()}")
    try:
        return measure(args, spec, work, env, log, start)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def prepare(name: str) -> tuple[str, dict, str]:
    """A fresh work directory under the checkout and the worker environment:
    one ``local[N]`` Spark with N <= the host's CPUs, single-threaded native
    libraries, and every temporary file inside the work directory."""
    work = os.path.join(BASE, name)
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d))
    os.makedirs(os.path.join(BASE, "results"), exist_ok=True)
    env = dict(os.environ)
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS",
                "ARROW_IO_THREADS", "NUMEXPR_NUM_THREADS"):
        env[var] = "1"
    env.update(
        SPARK_GRAFT_CPUS=str(spark_cores()),
        SPARK_DRIVER_MEMORY="2g",
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        TMPDIR=os.path.join(work, "tmp"),
        PYSPARK_PYTHON=sys.executable,
        PYTHONHASHSEED="0",
        PYTHONDONTWRITEBYTECODE="1",
    )
    # the generator runs in this process: same thread caps
    os.environ.update({k: env[k] for k in ("OMP_NUM_THREADS", "TMPDIR")})
    return work, env, os.path.join(work, "worker.log")


def spark_cores() -> int:
    return max(1, min(SPARK_CORES, len(os.sched_getaffinity(0))))


def measure(args, spec: dict, work: str, env: dict, log: str, start: float) -> int:
    sys.path.insert(0, HERE)
    import gen  # after prepare(): numpy and pyarrow see the thread caps

    load0 = cpu_times()

    t = time.perf_counter()
    gen.generate(args.workload, work, args.seed)
    gen_s = time.perf_counter() - t

    setups, colds, failures = [], [], []
    attempted = failed = 0
    limit = lambda: TIME_LIMIT - (time.perf_counter() - start)  # noqa: E731
    if not args.trace:
        for _ in range(SETUP_SAMPLES - COLD_SAMPLES):
            setups.append(run_worker(["--workload", args.workload, "--work", work,
                                      "--setup-only"], env, work, log, limit())[0])
        for _ in range(COLD_SAMPLES - 1):
            ready, line = run_worker(["--workload", args.workload, "--work", work,
                                      "--cold-only"], env, work, log, limit())
            cold = json.loads(line)
            setups.append(ready)
            colds += [cold["first_run_s"]] if cold["first_run_s"] else []
            attempted += cold["attempted"]
            failed += cold["failed"]
            failures += cold["failures"]
    ready, line = run_worker(
        ["--workload", args.workload, "--work", work, "--seconds", str(args.seconds),
         "--trace", str(args.trace), "--deadline", str(max(10.0, limit() - 25.0))],
        env, work, log, limit(),
    )
    setups.append(ready)
    res = json.loads(line)
    colds += [res["first_run_s"]] if res["first_run_s"] else []
    attempted += res["attempted"]
    failed += res["failed"]
    failures += res["failures"]
    ok_share = (attempted - failed) / attempted

    if args.trace:
        want = spec["per_layer"]
        values = {"session.get_spark.wall_s": res["get_spark_s"], **res["layers"]}
    else:
        want = spec["end_to_end"]
        values = {
            "setup_s": statistics.median(setups),
            "first_run_s": statistics.median(colds) if colds else 0.0,
            "run_s": res["run_s"]["median"],
            "cpu_s": res["cpu_s"]["median"],
            "write_amp": res["write_amp"],
            "ok_share": ok_share,
        }
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0) or 0.0),
                           "unit": m["unit"]} for m in want}
    detail = {
        "workload": args.workload,
        "trace": args.trace,
        "gen_s": gen_s,
        **{k: v for k, v in res.items() if k not in ("layers",)},
        "setup_s": {"samples": setups, "median": statistics.median(setups)},
        "first_run_s": {"samples": colds},
        "attempted": attempted,
        "failed": failed,
        "failures": failures[:10],
        "witness": witness(load0, spark_cores(), args.seed),
    }
    with open(os.path.join(BASE, "results",
                           f"{args.workload}-{args.seed}-t{args.trace}.json"), "w") as fh:
        json.dump({"detail": detail, "metrics": metrics}, fh, indent=1, sort_keys=True)
    print(json.dumps({"detail": detail}, sort_keys=True))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
