"""Benchmark entry point.

    python3 perfbench/run.py --workload batch_algos --seed 1 --seconds 10 --trace 0

Run from the repository root. The benchmark generates its inputs from
``--seed`` inside a fresh work directory under the checkout, starts a
``local[<nproc>]`` Spark session through ``flink_ml__spark.session``, sets
up and warms the workload, measures a closed loop for ``--seconds`` seconds,
checks every output against the DuckDB oracles and prints, as the last line
of stdout, one JSON object ``{"correct", "attempted", "failed", "metrics"}``.
``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
metrics of a traced run, whose spans are written to
``.perfbench_work/spans-<workload>-s<seed>.json``. The line before the result
is a JSON detail record (error rate with failures by query, tail percentile
and sample count, load average, CPU steal, a host-speed probe, gate
verdicts). ``--scale`` shrinks the inputs for smoke tests.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("batch_algos", "stream_replay")


def _driver_memory() -> str:
    """A quarter of physical memory, between 1 and 4 GiB."""
    total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1, min(4, total // 4 // 2 ** 30))}g"


def _prepare_env(work: str) -> dict:
    """Process environment and Spark confs: cores = nproc, bounded driver
    memory, the checkout on the Python workers' path, no console progress
    bar, and every scratch file inside this run's work directory.

    The driver heap starts at its maximum size (``-Xms`` = ``-Xmx``), as
    long-running JVM services are commonly deployed: left to grow, the
    heap's size follows the collector's timing-driven resizing decisions,
    and the resident memory of the run with it."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    mem = os.environ["SPARK_DRIVER_MEM"] = _driver_memory()
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{mem}",
    }


def _cpu_times() -> list[int]:
    """The aggregate ``cpu`` line of /proc/stat: user, nice, system, idle,
    iowait, irq, softirq, steal, ... in clock ticks."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def _steal_pct(t0: list[int], t1: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests between two
    ``_cpu_times`` readings, in percent."""
    d = [b - a for a, b in zip(t0, t1)]
    return 100.0 * d[7] / sum(d[:8]) if len(d) > 7 and sum(d[:8]) else 0.0


def _host_probe_s() -> float:
    """Seconds one thread takes to hash a fixed 256 MiB buffer: a reading of
    the host's speed at the time of the run, for telling a slower host from
    a slower program when runs disagree."""
    import hashlib

    buf = bytes(range(256)) * 4096
    t0 = time.perf_counter()
    h = hashlib.sha256()
    for _ in range(256):
        h.update(buf)
    return time.perf_counter() - t0


def _scaled(sizes: dict[str, int], scale: float) -> dict[str, int]:
    return {t: max(200, int(n * scale)) for t, n in sizes.items()}


def run(workload: str, seed: int, seconds: float, trace: bool,
        scale: float = 1.0, tamper=None):
    """Run one workload in this process; returns ``(result, detail)``."""
    from perfbench import workloads as W
    from perfbench.harness import stop_spark

    work = os.path.join(ROOT, ".perfbench_work",
                        f"{workload}-s{seed}-t{int(trace)}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    load0 = os.getloadavg()
    cpu0 = _cpu_times()
    probe0 = _host_probe_s()
    wall0 = time.perf_counter()
    spark = None
    try:
        conf = _prepare_env(work)
        r = W.Run(workload, trace)
        if workload == "stream_replay":
            # enough files for the warm-up and a traced run's timed calls
            spark = W.run_stream(r, work, seed, seconds, conf, max(
                int(W.STREAM_EVENTS * scale),
                (W.STREAM_WARMUP_FILES + 4) * W.STREAM_FILE_ROWS),
                tamper=tamper)
        else:
            spark = W.run_batch(r, W.BATCH_QUERIES,
                                _scaled(W.BATCH_SIZES, scale), work, seed,
                                seconds, conf, tamper=tamper)
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    if trace:
        spans = os.path.join(os.path.dirname(work),
                             f"spans-{workload}-s{seed}.json")
        r.tracer.dump(spans)
        r.info["spans_file"] = os.path.relpath(spans, ROOT)
    else:
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    e2e = r.end_to_end()
    metrics, units = ((r.per_layer(), W.PER_LAYER) if trace
                      else (e2e, W.END_TO_END))
    failed = sum(r.failed.values())
    result = {
        "correct": failed == 0,
        "attempted": r.attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]}
                    for k, v in metrics.items()},
    }
    detail = {
        "workload": workload, "seed": seed, "trace": trace,
        "error_rate": failed / r.attempted if r.attempted else 0.0,
        "failed_by_query": dict(r.failed), "errors": r.errors,
        "loadavg_start": load0, "loadavg_end": os.getloadavg(),
        "cpu_steal_pct": _steal_pct(cpu0, _cpu_times()),
        "host_probe_s": [probe0, _host_probe_s()],
        "cores": len(os.sched_getaffinity(0)),
        "driver_memory": os.environ.get("SPARK_DRIVER_MEM"),
        "timed_s": r.timed_s, "wall_s": time.perf_counter() - wall0,
        **r.info,
    }
    if not trace:
        detail["end_to_end"] = e2e
    return result, detail


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size factor (smoke tests only)")
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "flink_ml__spark")):
        print("perfbench: the flink_ml__spark package is not in this "
              "checkout; nothing to measure", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    result, detail = run(args.workload, args.seed, args.seconds,
                         bool(args.trace), args.scale)
    print(json.dumps(detail, default=str), flush=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
