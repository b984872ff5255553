"""Process environment for one benchmark run: checkout paths, the
Spark session sized to the host it runs on, and /proc readers.

Everything a run writes stays under ``<checkout>/.perfbench/``:
``work/<run>/`` (Spark local dirs, JVM tmp, tables, checkpoints; fresh
per run and deleted at exit), ``cache/`` (seeded fixtures) and ``out/``
(span files of traced runs).
"""

from __future__ import annotations

import os
import shutil

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
CACHE_DIR = os.path.join(STATE, "cache")
OUT_DIR = os.path.join(STATE, "out")

# explicit driver heap: the session default (48g) exceeds a 15 GB host
DRIVER_MEM = "2g"


def program_present() -> bool:
    """The program under test is the checkout's own package; without it
    the benchmark has nothing to run."""
    return os.path.isfile(os.path.join(ROOT, "montandon_etl_spark", "__init__.py"))


def host_cpus() -> int:
    return len(os.sched_getaffinity(0))


class RunDirs:
    """Fresh per-run work tree (Spark local dirs, JVM tmp, tables)."""

    def __init__(self, tag: str):
        self.root = os.path.join(STATE, "work", f"{tag}-{os.getpid()}")
        shutil.rmtree(self.root, ignore_errors=True)
        self.local = os.path.join(self.root, "spark-local")
        self.tmp = os.path.join(self.root, "tmp")
        for d in (self.local, self.tmp):
            os.makedirs(d)

    def path(self, *parts: str) -> str:
        return os.path.join(self.root, *parts)

    def remove(self) -> None:
        shutil.rmtree(self.root, ignore_errors=True)


def export_env(dirs: RunDirs) -> None:
    """Must run before the JVM starts: Spark and its Python workers
    inherit these."""
    os.environ["PYTHONPATH"] = ROOT + (
        os.pathsep + os.environ["PYTHONPATH"] if os.environ.get("PYTHONPATH") else "")
    os.environ["PYTHONDONTWRITEBYTECODE"] = "1"
    os.environ["SPARK_LOCAL_DIRS"] = dirs.local
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["TMPDIR"] = dirs.tmp
    # no hsperfdata files under /tmp from the launcher or the driver JVM
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    import tempfile

    tempfile.tempdir = dirs.tmp


def session_conf(dirs: RunDirs) -> dict:
    n = host_cpus()
    return {
        "master": f"local[{n}]",
        "shuffle_partitions": n,
        "driver_memory": DRIVER_MEM,
        "spark_local_dirs": os.path.relpath(dirs.local, ROOT),
        "console_progress": False,
    }


def start_spark(dirs: RunDirs):
    """local[nproc] session with shuffle partitions = nproc, progress
    bar off, JVM tmp and warehouse inside the run directory."""
    from montandon_etl_spark.session import get_spark

    n = host_cpus()
    return get_spark(
        app_name="perfbench",
        master=f"local[{n}]",
        shuffle_partitions=n,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions":
                f"-XX:-UsePerfData -Djava.io.tmpdir={dirs.tmp}",
            "spark.sql.warehouse.dir": dirs.path("warehouse"),
            "spark.hadoop.hadoop.tmp.dir": dirs.path("hadoop-tmp"),
        },
    )


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def jvm_pid() -> int | None:
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def peak_rss_mb(pids: list[int | None]) -> float:
    """Sum of VmHWM (peak resident set) over the given processes."""
    total_kb = 0
    for pid in pids:
        if pid is None:
            continue
        try:
            with open(f"/proc/{pid}/status", encoding="ascii") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


def cpu_times() -> list[int]:
    """Aggregate jiffies from the first line of /proc/stat."""
    with open("/proc/stat", encoding="ascii") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of host CPU time stolen by the hypervisor between two
    samples (field 8 of the cpu line). A diagnostic for noisy runs."""
    delta = [b - a for a, b in zip(before, after)]
    total = sum(delta[:8])  # guest time is already inside user/nice
    return delta[7] / total if total > 0 else 0.0
