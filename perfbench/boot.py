"""Process environment and the timed session start.

``setup_s`` is the time a daily job pays before its first action: the
registry import (``__spark_entry__``) plus ``get_spark()``.  Run as a
script, this module makes one such start in a fresh process, stops the
session and prints the seconds it took on its last line; ``run.py``
calls it for the extra set-up samples of a run.
"""

from __future__ import annotations

import functools
import json
import os
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
#: Driver JVM heap, initial = maximum (``SPARK_DRIVER_MEM`` and -Xms).
#: With the engine's default (8g maximum, G1's initial 1/64 of RAM) the
#: JVM's resident size is whatever heap G1 has committed by the end of
#: the run, which its timing-driven expansion sets anywhere between 3.2
#: and 4.2 GB over identical runs; with the heap fixed, ``peak_rss_mb``
#: moves with the Python driver and workers and the JVM's off-heap
#: memory, and heap pressure shows as ``gc_s`` instead.
DRIVER_HEAP = "2g"
SPEC_FILE = os.path.join(ROOT, "BENCHMARK.json")
PROGRAM_FILES = ("__spark_entry__.py", "youtube_podcast_data_pipeline_azure_spark/__init__.py")


@functools.cache
def spec() -> dict:
    """``BENCHMARK.json``: the workloads, metrics, units and bounds."""
    with open(SPEC_FILE) as f:
        return json.load(f)


def require_program() -> None:
    """Exit non-zero, before any work, when the engine is not beside the
    benchmark (a checkout holding only the benchmark's own files)."""
    missing = [p for p in PROGRAM_FILES if not os.path.isfile(os.path.join(ROOT, p))]
    if missing:
        sys.stderr.write(f"perfbench: engine files missing from {ROOT}: {missing}\n")
        sys.exit(2)


#: Task slots, ``local[N]``.  Two on a 4-vCPU host: the driver JVM alone
#: keeps about 2.5 vCPUs busy with two slots (JIT compiler and GC threads
#: beside the tasks), so two slots leave room for it, the Python workers
#: and hypervisor steal.  perfbench/README.md has the A/B measurements.
SLOTS = 2


def slots() -> int:
    return max(1, min(SLOTS, len(os.sched_getaffinity(0))))


def configure_env(work_dir: str) -> None:
    """Keep every file Spark, the JVMs and Python write inside
    ``work_dir``, fix the driver heap, and let Python workers import the
    engine and the benchmark."""
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["SPARK_GRAFT_CPUS"] = str(slots())
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_HEAP
    # no /tmp/hsperfdata_* files from the launcher or the driver JVM
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def session_conf(work_dir: str, event_log_dir: str | None = None) -> dict[str, str]:
    tmp = os.path.join(work_dir, "tmp")
    conf = {
        # fixed heap: see DRIVER_HEAP
        "spark.driver.extraJavaOptions": f"-Xms{DRIVER_HEAP} -XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
    }
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"file://{event_log_dir}",
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return conf


def start(work_dir: str, event_log_dir: str | None = None):
    """Timed start: registry import, then ``get_spark()``.  Returns
    ``(spark, registry_module, {"registry.import_s", "session.start_s"})``."""
    t0 = time.perf_counter()
    import __spark_entry__ as registry

    t1 = time.perf_counter()
    from youtube_podcast_data_pipeline_azure_spark import get_spark

    spark = get_spark(app_name="perfbench", extra_conf=session_conf(work_dir, event_log_dir))
    t2 = time.perf_counter()
    return spark, registry, {"registry.import_s": t1 - t0, "session.start_s": t2 - t1}


def descendants(root_pid: int) -> list[int]:
    """Pids of every live descendant of ``root_pid``."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, stack = [], [root_pid]
    while stack:
        kids = children.get(stack.pop(), [])
        out += kids
        stack += kids
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] not in ("Z", "X")
    except OSError:
        return False


def stop(spark, timeout: float = 60.0) -> None:
    """Stop the session, then the driver JVM (PySpark keeps it for reuse
    otherwise), and wait until the JVM and its Python workers are gone."""
    from pyspark import SparkContext

    started = descendants(os.getpid())
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.monotonic() + timeout
    for pid in started:
        while _alive(pid) and time.monotonic() < deadline:
            time.sleep(0.05)
        if _alive(pid):
            os.kill(pid, 9)


if __name__ == "__main__":
    require_program()
    work = sys.argv[1]
    configure_env(work)
    spark, _, times = start(work)
    stop(spark)
    print(times["registry.import_s"] + times["session.start_s"])
