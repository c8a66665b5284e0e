"""Host-sized Spark session, the host record and peak-RSS reading.

The session is the batch job's own (``engine.spark.job.build_session``);
its master, shuffle partitions and heap size come from the CPU count and
``MemTotal`` of the machine the benchmark runs on, so a result is always
measured at the host's own size.
"""

from __future__ import annotations

import os
import platform
import statistics
import subprocess
import time
from pathlib import Path


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_mib() -> int:
    for line in Path("/proc/meminfo").read_text().splitlines():
        if line.startswith("MemTotal:"):
            return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def heap_mib() -> int:
    """256 MiB of heap per core, at most 1/16 of the host's memory. Local
    mode runs the executors inside the one JVM and the benchmark's inputs
    are a few MiB; a heap the run fills keeps peak RSS from following the
    collector's growth decisions (with 2-4 GiB heaps it moved 1.6-2.4 GiB
    from run to run)."""
    return max(512, min(256 * cpu_count(), mem_total_mib() // 16))


def session_env(work: Path, repo: Path) -> None:
    """Keep every file the JVM and its Python workers write under ``work``,
    and let the workers import the repo's packages."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp)
    # HotSpot writes its perf-counter file under /tmp whatever the tmpdir
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = f"{repo}{os.pathsep}{path}" if path else str(repo)


def build_session(work: Path, app: str, event_log: Path | None = None):
    """``engine.spark.job.build_session`` at the host's size, with the
    benchmark's own settings on top: no UI, a warehouse inside ``work``, and
    the event log only when ``event_log`` is given.

    The job's builder takes no extra settings, but it starts from a
    ``SparkConf`` that reads the driver JVM's ``spark.*`` system properties.
    So the settings go on the JVM's command line before it is launched, and
    into its system properties once it runs (a new session in the same JVM
    then picks up the event-log switch)."""
    from pyspark import SparkContext

    from engine.spark.job import build_session as job_session

    confs = {"spark.ui.enabled": "false",
             "spark.ui.showConsoleProgress": "false",
             "spark.sql.warehouse.dir": str(work / "warehouse"),
             "spark.eventLog.enabled": "false"}
    if event_log is not None:
        event_log.mkdir(parents=True, exist_ok=True)
        confs.update({"spark.eventLog.enabled": "true",
                      "spark.eventLog.dir": event_log.as_uri(),
                      "spark.eventLog.rolling.enabled": "false",
                      "spark.eventLog.compress": "false"})
    if SparkContext._jvm is None:
        os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
            f"--conf {k}={v}" for k, v in confs.items()) + " pyspark-shell"
    else:
        for k, v in confs.items():
            SparkContext._jvm.java.lang.System.setProperty(k, v)
    cores = cpu_count()
    spark = job_session(f"local[{cores}]", app=app, shuffle_partitions=cores,
                        driver_memory=f"{heap_mib()}m")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it to end."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def peak_rss_mib(pids) -> float:
    """Σ VmHWM (peak resident set) over ``pids``, in MiB."""
    total_kib = 0
    for pid in pids:
        for line in Path(f"/proc/{pid}/status").read_text().splitlines():
            if line.startswith("VmHWM:"):
                total_kib += int(line.split()[1])
    return total_kib / 1024.0


def cpu_times() -> list[int]:
    """The machine-wide CPU counters of /proc/stat (user nice system idle
    iowait irq softirq steal, in ticks)."""
    return [int(v) for v in Path("/proc/stat").read_text().split("\n", 1)[0].split()[1:9]]


def probe_ms(reps: int = 5) -> float:
    """Median milliseconds of a fixed pure-Python loop: the speed of one core
    of the host at the time of the run, so that a swing in the metrics can be
    checked against a swing in the host."""
    def once() -> float:
        t0, x = time.perf_counter(), 0
        for i in range(600_000):
            x = (x * 31 + i) % 1_000_003
        return (time.perf_counter() - t0) * 1000.0
    return statistics.median(once() for _ in range(reps))


def host_record(repo: Path, cpu_at_start: list[int], probe_at_start: float) -> dict:
    import duckdb
    import pyarrow
    import pyspark

    try:
        # the ceiling keeps git from walking up into an enclosing repository
        env = dict(os.environ, GIT_CEILING_DIRECTORIES=str(repo.parent))
        commit = subprocess.run(["git", "rev-parse", "HEAD"], cwd=repo, env=env,
                                capture_output=True, text=True, timeout=10
                                ).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        commit = None
    # what else ran during the run: CPU time the hypervisor gave to other
    # guests (steal), and the 1-minute load of this machine
    delta = [b - a for a, b in zip(cpu_at_start, cpu_times())]
    total = max(1, sum(delta))
    return {
        "cpus": cpu_count(),
        "mem_total_mib": mem_total_mib(),
        "heap_mib": heap_mib(),
        "python": platform.python_version(),
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "duckdb": duckdb.__version__,
        # the benchmark may run from an export that is not a git checkout
        "git_commit": commit,
        "steal_share": round(delta[7] / total, 4),
        "machine_busy_share": round(1 - (delta[3] + delta[4]) / total, 4),
        "load_1m": float(Path("/proc/loadavg").read_text().split()[0]),
        "probe_ms_start": round(probe_at_start, 2),
        "probe_ms_end": round(probe_ms(), 2),
    }
