"""Run-scoped resources: the temp root, the host-sized Spark session and the
driver JVM's lifetime.

Everything a run writes (state, shuffle spill, warehouse, JVM and Python temp
files, generated inputs) lives under one temp root inside the checkout, which
is removed when the run ends.
"""

from __future__ import annotations

import os
import shlex
import shutil
import subprocess
import tempfile
import time

from tracing import CpuClock, jvm_pid

SETUP_CYCLES = 3


def host_cpus() -> int:
    return len(os.sched_getaffinity(0))


def driver_mem_mb() -> int:
    """A third of physical RAM, at most 2 GiB: well below what the host
    has, and the same on every run of one host."""
    with open("/proc/meminfo") as f:
        total_kb = int(next(line for line in f if line.startswith("MemTotal:")).split()[1])
    return min(2048, total_kb // 1024 // 3)


class Harness:
    def __init__(self, checkout: str, tag: str):
        os.makedirs(os.path.join(checkout, ".bench_tmp"), exist_ok=True)
        self.root = tempfile.mkdtemp(prefix=f"{tag}-", dir=os.path.join(checkout, ".bench_tmp"))
        self.master = f"local[{host_cpus()}]"
        self.driver_mem = f"{driver_mem_mb()}m"
        self.spark = None
        self.cpu = None  # CpuClock of the driver JVM, once it runs
        self.loadavg_start = os.getloadavg()
        tmp = self.dir("tmp")
        os.environ.update(
            {
                "TZ": "UTC",
                "TMPDIR": tmp,
                "SPARK_LOCAL_DIRS": self.dir("spill"),
                "SPARK_GRAFT_DRIVER_MEM": self.driver_mem,
                "SPARK_GRAFT_WAREHOUSE": self.dir("warehouse"),
                # the launcher JVM that spark-submit starts first
                "SPARK_LAUNCHER_OPTS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
                "PYSPARK_SUBMIT_ARGS": " ".join(
                    [
                        "--driver-java-options",
                        shlex.quote(f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"),
                        "--conf spark.ui.showConsoleProgress=false",
                        "pyspark-shell",
                    ]
                ),
            }
        )
        time.tzset()
        tempfile.tempdir = tmp

    def dir(self, *parts: str) -> str:
        """A directory under the temp root, created if missing."""
        p = os.path.join(self.root, *parts)
        os.makedirs(p, exist_ok=True)
        return p

    def start_session(self) -> float:
        """(Re)start the engine's session through ``get_spark``; seconds taken.
        The first call launches the driver JVM; later calls stop the running
        SparkContext and start a fresh one in the same JVM."""
        from graph_vulcan_assets_spark.session import get_spark

        t0 = time.perf_counter()
        if self.spark is not None:
            self.spark.stop()
        self.spark = get_spark(app_name="perfbench", master=self.master)
        if self.cpu is None:
            self.cpu = CpuClock(jvm_pid(self.spark))
        return time.perf_counter() - t0

    def setup_cycles(self, tracer, span: str, open_store):
        """Set up ``SETUP_CYCLES`` times: restart the session, then call
        ``open_store(spark)``. Returns the per-cycle timings and what the
        last ``open_store`` returned."""
        starts, opens, cpus, opened = [], [], [], None
        for c in range(SETUP_CYCLES):
            c0 = self.cpu.now()
            with tracer.span("session.start", req=f"setup-{c}"):
                starts.append(self.start_session())
            t0 = time.perf_counter()
            with tracer.span(span, req=f"setup-{c}", spark=self.spark):
                opened = open_store(self.spark)
            opens.append(time.perf_counter() - t0)
            cpus.append(self.cpu.now() - c0)
        cycles = [a + b for a, b in zip(starts, opens)]
        return {"starts": starts, "opens": opens, "cycles": cycles, "cpu": cpus}, opened

    def close(self) -> None:
        """Stop Spark, end the driver JVM (and with it the Python workers it
        forked), wait for it, and remove the temp root."""
        try:
            if self.spark is not None:
                from pyspark import SparkContext

                self.spark.stop()
                gateway = SparkContext._gateway
                if gateway is not None:
                    proc = getattr(gateway, "proc", None)
                    gateway.shutdown()
                    SparkContext._gateway = None
                    SparkContext._jvm = None
                    if proc is not None:
                        proc.stdin.close()
                        try:
                            proc.wait(timeout=60)
                        except subprocess.TimeoutExpired:
                            proc.kill()
                            proc.wait()
                self.spark = None
        finally:
            shutil.rmtree(self.root, ignore_errors=True)
