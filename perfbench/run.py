"""Layered benchmark for the findopendata_spark engine.

    python3 perfbench/run.py --workload crawl --seed 1 --seconds 15 --trace 0

Run from the root of a source checkout. The program builds nothing: it
imports the engine from the checkout, starts a local Spark session sized
to the host (``session_settings``), runs one workload (see workloads.py and
README.md), checks its outputs, and prints ``metric`` lines followed by
one JSON object as the last line of stdout. ``--trace 0`` reports the
end-to-end metrics; ``--trace 1`` turns on spans and the Spark event log
and reports the per-layer metrics instead. Spark's own log output goes to
``.perfbench_out/spark-<workload>.log``; scratch state lives in
``.perfbench_work/`` and is removed on exit.
"""
from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback

import workloads
from procstat import ProcSampler
from spans import Tracer

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORKLOADS = ("crawl", "analytics")


def host_cores() -> int:
    """Spark's task slots: half the CPUs of the affinity mask (what ``nproc``
    prints), at least one. A Python-UDF task keeps two processes busy, its
    JVM task thread and the Python worker it streams to, and the driver,
    JIT and GC threads need CPU too; with one slot per CPU the run measures
    the OS scheduler more than the engine (runs were slower and their
    spread larger)."""
    return max(1, len(os.sched_getaffinity(0)) // 2)


def host_ram_gb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 2**20
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def session_settings(work: str) -> dict:
    """Host fit, through the env and ``get_spark`` arguments the engine
    already reads: task slots from ``host_cores``, driver heap well under
    physical RAM, every scratch dir
    inside the checkout. The heap and its young generation have fixed
    sizes, so that the resident heap, part of ``peak_rss_mb``, does not
    follow ParallelGC's adaptive resizing from run to run. The
    performance-counter file of the driver JVM and of spark-submit's
    launcher JVM is off: HotSpot writes it to /tmp whatever the temp dir
    is set to."""
    cores = host_cores()
    heap_gb = max(1, min(2, int(host_ram_gb() * 0.15)))
    tmp = os.path.join(work, "tmp")
    jvm = (f"-XX:+UseParallelGC -Xms{heap_gb}g -Xmn{heap_gb * 256}m "
           f"-XX:-UseAdaptiveSizePolicy -XX:-UsePerfData -Djava.io.tmpdir={tmp}")
    return {
        "cores": cores,
        "env": {
            "SPARK_GRAFT_CPUS": str(cores),
            "SPARK_DRIVER_MEM": f"{heap_gb}g",
            "SPARK_GRAFT_JVM_OPTS": jvm,
            "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
            "TMPDIR": tmp,
            "PYSPARK_PYTHON": sys.executable,
            "PYTHONPATH": os.pathsep.join(
                p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        },
        "local_dir": os.path.join(work, "local"),
    }


class Ctx:
    """What a workload needs: the session, scratch dirs, tracer, sampler."""

    def __init__(self, args, settings: dict, work: str, out: str):
        self.seed = args.seed
        self.seconds = args.seconds
        self.traced = bool(args.trace)
        self.cores = settings["cores"]
        self.settings = settings
        self.work = work
        self.out = out
        self.tracer = Tracer(self.traced)
        self.sampler = ProcSampler()
        self.spark = None
        self.extra_conf: dict[str, str] = {}
        self.evlog_dir = os.path.join(work, "evlog")
        self.lines: list[str] = []  # human-readable metric lines
        self.t0 = time.perf_counter()

    def start_session(self) -> float:
        """(Re)start the SparkSession; returns the seconds the start took.
        The first call launches the JVM, later ones reuse it. Stopping the
        previous session is not counted: PySpark's stop() waits for its
        accumulator server's poll loop, a uniform 0-0.5 s wait."""
        from findopendata_spark.session import get_spark

        if self.spark is not None:
            self.spark.stop()
        t0 = time.perf_counter()
        conf = {"spark.local.dir": self.settings["local_dir"], **self.extra_conf}
        if self.traced:
            os.makedirs(self.evlog_dir, exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + self.evlog_dir,
                "spark.eventLog.compress": "false",
            })
        self.spark = get_spark("perfbench", cores=self.cores, extra_conf=conf)
        self.spark.range(1).count()
        return time.perf_counter() - t0

    def stop(self) -> None:
        """Stop Spark and wait for the JVM (and its Python workers) to exit."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        self.spark = None
        proc = getattr(gateway, "proc", None)
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            try:
                proc.stdin.close()  # the launcher exits when stdin closes
                proc.wait(timeout=30)
            except Exception:  # noqa: BLE001
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None

    def note(self, what: str) -> None:
        """Progress marks go to the log file (fd 2), never to stdout."""
        print(f"perfbench: {time.perf_counter() - self.t0:8.2f} s {what}",
              file=sys.stderr, flush=True)

    def line(self, workload: str, name: str, value, unit: str, note: str = "") -> None:
        self.lines.append(
            f"metric {workload} {name} {value} {unit}" + (f" ({note})" if note else ""))


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=30)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-totals", action="store_true",
                    help="crawl every graph variant and rewrite "
                         "perfbench/crawl_totals.json, the crawl gate's "
                         "reference (only after a deliberate engine change)")
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "findopendata_spark", "__init__.py")) \
            or not os.path.isfile(os.path.join(ROOT, "__spark_entry__.py")):
        print(f"perfbench: no engine sources under {ROOT} "
              "(expected findopendata_spark/ and __spark_entry__.py)",
              file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work")
    out = os.path.join(ROOT, ".perfbench_out")
    shutil.rmtree(work, ignore_errors=True)
    for d in (work, out, os.path.join(work, "tmp")):
        os.makedirs(d, exist_ok=True)
    settings = session_settings(work)
    os.environ.update(settings["env"])
    sys.path.insert(0, ROOT)

    # stdout carries only the metric lines: Spark, py4j and the Python
    # workers write to the log file through fds 1 and 2
    real_out, real_err = os.dup(1), os.dup(2)
    log_fd = os.open(os.path.join(out, f"spark-{args.workload}.log"),
                     os.O_WRONLY | os.O_CREAT | os.O_TRUNC, 0o644)
    sys.stdout.flush()
    sys.stderr.flush()
    os.dup2(log_fd, 1)
    os.dup2(log_fd, 2)
    ctx = Ctx(args, settings, work, out)
    code, result = 1, None
    try:
        ctx.sampler.start()
        if args.record_totals:
            workloads.record_totals(ctx)
        else:
            result = workloads.run(args.workload, ctx)
        code = 0
    except Exception:  # noqa: BLE001
        os.write(real_err, traceback.format_exc().encode())
    finally:
        for step in (ctx.stop, ctx.sampler.halt):
            try:
                step()
            except Exception:  # noqa: BLE001
                os.write(real_err, traceback.format_exc().encode())
                code, result = 1, None
        sys.stdout.flush()
        sys.stderr.flush()
        os.dup2(real_out, 1)
        os.dup2(real_err, 2)
        shutil.rmtree(work, ignore_errors=True)
    if result is None:
        return code
    text = "\n".join(ctx.lines + [json.dumps(result)]) + "\n"
    sys.stdout.write(text)
    sys.stdout.flush()
    return code


if __name__ == "__main__":
    sys.exit(main())
