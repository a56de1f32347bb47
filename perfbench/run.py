"""Benchmark entry point.

    python3 perfbench/run.py --workload serve_warm --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. It generates the seeded corpus and query
mix, computes every expected result with the DuckDB oracle, then starts
Spark on ``local[<cpus / 2>]``, sets up, runs one warm-up round and then a
fixed number of measured rounds, one per twenty ``--seconds``. Every result
is checked. The last line of stdout is
one JSON object:
``{"correct", "attempted", "failed", "metrics"}``; with ``--trace 0`` the
metrics are the end-to-end ones, with ``--trace 1`` the per-layer ones from
a traced run (spans, job groups and the Spark event log), which also writes
``.perfbench/out/<workload>-seed<seed>.layers.json``.

Everything it writes stays under ``.perfbench/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("serve_warm", "serve_cold")
N_DOCS = 300
DRIVER_MEMORY = "1g"
# C1 only: the C2 compiler needs ~50 queries to warm up (per-round time fell
# 2.5x over the first six rounds of the mix), far more than a run can spend.
# Serial GC: G1's parallel and concurrent GC threads and its adaptive heap
# sizing made query CPU seconds and peak RSS vary more between runs.
# Code cache: C1 only shrinks it to 48 MB, which Spark's generated code
# fills to 90 % about a minute in; the JVM then sweeps and flushes compiled
# methods and recompiles them, a burst of 1-2 CPU seconds per query for
# several seconds that a run's window caught or missed by chance.
JVM_FLAGS = "-XX:TieredStopAtLevel=1 -XX:+UseSerialGC -XX:ReservedCodeCacheSize=256m"


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def tree_usage(root: int) -> tuple[int, float]:
    """(RSS in kB, CPU seconds) summed over ``root`` and its descendants,
    from /proc. CPU counts reaped children too (cutime, cstime), so a
    Python worker that exited still counts through its parent."""
    children: dict[int, list[int]] = {}
    usage: dict[int, tuple[int, float]] = {}
    page_kb = os.sysconf("SC_PAGE_SIZE") // 1024
    tick = os.sysconf("SC_CLK_TCK")
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # after the command: state(0) ppid(1) ... utime(11) stime cutime
        # cstime(14) ... rss in pages(21)
        children.setdefault(int(f[1]), []).append(int(d))
        usage[int(d)] = (int(f[21]) * page_kb, sum(int(x) for x in f[11:15]) / tick)
    rss, cpu, todo = 0, 0.0, [root]
    while todo:
        p = todo.pop()
        r_kb, c = usage.get(p, (0, 0.0))
        rss, cpu = rss + r_kb, cpu + c
        todo.extend(children.get(p, []))
    return rss, cpu


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and its descendants."""
    return tree_usage(os.getpid())[1]


class RssSampler:
    """Peak summed RSS of this process and all its descendants (the JVM
    and the Python workers), sampled every PERIOD seconds."""

    PERIOD = 0.5

    def __init__(self):
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, tree_usage(me)[0])
            self._stop.wait(self.PERIOD)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)


def steal_ticks() -> int:
    """Host CPU steal so far, in clock ticks, from /proc/stat."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8])


def start_spark(work: str, event_log: str | None):
    from pyspark.sql import SparkSession

    # Half the CPUs: each task slot runs a JVM task thread and, for the
    # Python UDFs, a Python worker beside it, so two slots already keep
    # four CPUs busy. With a slot per CPU the threads outnumbered the CPUs,
    # and a batched BM25 call used ~1.7 times the CPU seconds, spread twice
    # as wide between runs.
    cores = max(1, (os.cpu_count() or 1) // 2)
    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        .config("spark.driver.memory", DRIVER_MEMORY)
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.local.dir", os.path.join(work, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={work}/tmp {JVM_FLAGS}")
        .config("spark.executorEnv.PYTHONPATH", os.environ["PYTHONPATH"])
    )
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        b = (
            b.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", "file://" + event_log)
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.rolling.enabled", "false")
        )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for both."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def emit(workload: str, seed: int, client, named: dict, units: dict, metrics: dict) -> None:
    """Human-readable lines, then the one-line JSON result."""
    for name, v in named.items():
        print(f"{workload} seed={seed} {name} = {v:.6g} {units.get(name, '')}")
    for e in client.errors:
        print(f"{workload} seed={seed} FAILED {e}")
    print(json.dumps({
        "correct": client.failed == 0,
        "attempted": client.attempted,
        "failed": client.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))


def main(argv=None) -> int:
    args = parse_args(argv)
    if args.seconds <= 0:
        print("--seconds must be positive", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ["SPARK_LOCAL_IP"] = "127.0.0.1"
    try:
        import phphinder_spark  # noqa: F401  the program under test
    except ImportError as e:
        print(f"cannot import the program from {ROOT}: {e}", file=sys.stderr)
        return 2

    # a terminated run still cleans up its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    try:
        import workload

        s0, t0 = steal_ticks(), time.monotonic()
        if args.trace:
            res = workload.traced(args, work, os.path.join(base, "out"))
        else:
            res = workload.untraced(args, work)
        # share of this run's CPU capacity the hypervisor gave elsewhere:
        # the main source of run-to-run spread on a shared host
        steal = (steal_ticks() - s0) / os.sysconf("SC_CLK_TCK")
        res[1]["host_steal_frac"] = steal / ((time.monotonic() - t0) * (os.cpu_count() or 1))
        emit(args.workload, args.seed, *res)
        return 0
    finally:
        try:
            if "pyspark" in sys.modules:
                from pyspark.sql import SparkSession

                active = SparkSession.getActiveSession()
                if active is not None:  # a run that failed midway
                    stop_spark(active)
        finally:
            shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
