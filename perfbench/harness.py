"""Session sizing, warm-up and between-operation hygiene, written once.

Everything a measurement harness does around the program's own calls
lives here, shaped so ``bench.py`` and the ``tools/`` profilers can adopt
it: size the session to the host, fill the lazy caches before timing,
release what one operation leaves behind before the next one starts, and
read the hygiene gauges.

Nothing here changes the program's code or its session defaults: the
core count and heap reach ``session.get_spark`` through its documented
environment variable and ``extra_conf``.
"""

from __future__ import annotations

import os
import platform
import time

#: Driver heap ceiling. The driver JVM is the whole local-mode cluster, so
#: the heap is what the host can spare, capped where these inputs stop
#: needing more.
HEAP_CAP_MB = 2048


def _cpu_ticks() -> tuple[int, int]:
    """Machine-wide (busy, stolen) CPU ticks since boot, from /proc/stat:
    busy is user + nice + system + irq + softirq; stolen is the time the
    hypervisor ran something else while a vCPU had work."""
    with open("/proc/stat") as fh:
        user, nice, system, _idle, _iowait, irq, softirq, steal = (
            int(x) for x in fh.readline().split()[1:9]
        )
    return user + nice + system + irq + softirq, steal


class Stopwatch:
    """Wall time of a region, plus that time with the hypervisor's steal
    taken out: ``wall * (1 - stolen / (busy + stolen))`` over the region.
    On a shared VM the stolen share swings from 0 to a third within
    minutes and moves every wall with it; the un-stolen time is what the
    program took on the CPU it was given."""

    def __init__(self):
        self.t0 = time.perf_counter()
        self.ticks0 = _cpu_ticks()

    def read(self) -> tuple[float, float]:
        """(wall seconds, un-stolen seconds) since construction."""
        wall = time.perf_counter() - self.t0
        busy, steal = _cpu_ticks()
        d_busy = busy - self.ticks0[0]
        d_steal = steal - self.ticks0[1]
        demand = d_busy + d_steal
        return wall, wall * (1.0 - d_steal / demand) if demand > 0 else wall


def host_cpus() -> int:
    """Cores this process may run on (``nproc``), not the machine's."""
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def host_ram_mb() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def heap_mb() -> int:
    """A quarter of host RAM, capped at :data:`HEAP_CAP_MB`."""
    return max(512, min(HEAP_CAP_MB, host_ram_mb() // 4))


def pin_host_env(work_dir: str) -> None:
    """Point every temporary location the engine, the JVM and Python use
    into ``work_dir`` and size the session to this host. Must run before
    the first ``pyspark`` import."""
    tmp = os.path.join(work_dir, "tmp")
    local = os.path.join(work_dir, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_GRAFT_CPUS"] = str(host_cpus())
    # -UsePerfData: no hsperfdata file in the system /tmp.
    # -UseDynamicNumberOfCompilerThreads: the JIT compiler threads live as
    # long as the JVM, so ``cpu_s`` can take their time out exactly.
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
        "-XX:-UseDynamicNumberOfCompilerThreads"
    )
    import tempfile

    tempfile.tempdir = tmp


def start_session(app_name: str, event_log_dir: str | None = None):
    """The program's own session factory, pinned to ``local[nproc]`` with a
    heap that fits the host. ``event_log_dir`` turns on Spark's event log
    (the traced run's engine counters)."""
    from daily_top_songs_etl_spark.session import get_spark

    conf = {"spark.driver.memory": f"{heap_mb()}m"}
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = "file://" + os.path.abspath(event_log_dir)
        conf["spark.eventLog.compress"] = "false"
    spark = get_spark(
        app_name=app_name, master=f"local[{host_cpus()}]", extra_conf=conf
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def warm_up(spark) -> None:
    """Fill the engine's per-session lazy state before timing: codegen,
    the noop sink and the first job's scheduler set-up."""
    spark.range(1000).selectExpr("sum(id)").write.mode("overwrite").format(
        "noop"
    ).save()


def warm_tables(spark, data_dir: str, tables) -> None:
    """Materialize the registry loader's multi-file layout (and its first
    read) for each input table, so no timed operation pays it."""
    import __spark_entry__ as entry

    for name in tables:
        entry._t(spark, data_dir, name).selectExpr("count(*)").write.mode(
            "overwrite"
        ).format("noop").save()


def live_rdds(spark) -> int:
    """Persisted RDDs, localCheckpoint pins included (``clearCache`` does
    not see those)."""
    return len(spark.sparkContext._jsc.getPersistentRDDs())


def release_pins(spark) -> None:
    """Unpersist every persisted RDD, localCheckpoint blocks included."""
    from daily_top_songs_etl_spark.pins import release_new_pins

    release_new_pins(spark.sparkContext, set(), "perfbench hygiene")


def between_ops(spark, n_done: int, release: bool, gc_every: int) -> None:
    """Hygiene after an operation, outside the timed region: drop cached
    relations and pins left by unrelated operations, and every
    ``gc_every`` operations force a JVM GC so the ContextCleaner reclaims
    dead shuffle and broadcast state."""
    if release:
        spark.catalog.clearCache()
        release_pins(spark)
    if gc_every and n_done % gc_every == 0:
        spark.sparkContext._jvm.System.gc()


def catalog_gauges(roots) -> tuple[int, int]:
    """(live version dirs, pending ``_trash-*`` dirs) over catalog roots."""
    versions = trash = 0
    for root in roots:
        if not os.path.isdir(root):
            continue
        for table in os.listdir(root):
            tdir = os.path.join(root, table)
            if not os.path.isdir(tdir):
                continue
            for entry in os.listdir(tdir):
                if entry.startswith("v="):
                    versions += 1
                elif entry.startswith("_trash-"):
                    trash += 1
    return versions, trash


def disk_bytes(roots) -> int:
    """Bytes on disk under ``roots``, each hardlinked file counted once."""
    seen: set[tuple[int, int]] = set()
    total = 0
    for root in roots:
        for dirpath, _dirs, files in os.walk(root):
            for f in files:
                st = os.lstat(os.path.join(dirpath, f))
                key = (st.st_dev, st.st_ino)
                if key not in seen:
                    seen.add(key)
                    total += st.st_size
    return total


def jvm_pid(spark) -> int:
    return int(
        spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    )


#: Thread names (``/proc/<pid>/task/<tid>/comm``) of the JVM's JIT
#: compilers.
_JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _ticks(stat_path: str) -> int:
    with open(stat_path) as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    return int(fields[11]) + int(fields[12])


def cpu_s(pid: int) -> float:
    """User + system CPU seconds a process has used so far, its JIT
    compiler threads excluded. Compilation is warm-up: it comes in bursts
    whose size and timing vary from run to run (a quarter to a third of
    the CPU of ``daily_ingest``'s first days), while the work the program
    does is the same."""
    total = _ticks(f"/proc/{pid}/stat")
    task_dir = f"/proc/{pid}/task"
    for tid in os.listdir(task_dir):
        try:
            with open(f"{task_dir}/{tid}/comm") as fh:
                if not fh.read().startswith(_JIT_THREADS):
                    continue
            total -= _ticks(f"{task_dir}/{tid}/stat")
        except OSError:  # the thread ended while we looked
            continue
    return total / os.sysconf("SC_CLK_TCK")


def peak_rss_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of a process, from ``/proc``."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"VmHWM missing for pid {pid}")


def retained_heap_mb(spark) -> float:
    """Driver heap still live after a full GC. Python's own collection runs
    first, so JVM objects only dead Python proxies held are released (py4j
    sends those releases from a background thread, hence the pause); the
    ContextCleaner then frees broadcast and shuffle state on its own thread
    once a GC has enqueued their references, so collect, give it a moment,
    and repeat until two readings in a row agree."""
    import gc

    gc.collect()
    time.sleep(1.0)
    jvm = spark.sparkContext._jvm
    heap = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    readings: list[float] = []
    for _ in range(6):
        jvm.System.gc()
        readings.append(heap.getHeapMemoryUsage().getUsed() / 2**20)
        if len(readings) >= 2 and abs(readings[-1] - readings[-2]) < 1.0:
            break
        time.sleep(0.3)
    return min(readings)


def host_info() -> dict:
    import duckdb
    import pyspark

    return {
        "nproc": host_cpus(),
        "ram_mb": host_ram_mb(),
        "heap_mb": heap_mb(),
        "spark": pyspark.__version__,
        "python": platform.python_version(),
        "duckdb": duckdb.__version__,
    }


def stop_session(spark) -> None:
    """Stop the context and the JVM behind it, and wait for the JVM to
    exit, so the run leaves no process behind."""
    from pyspark import SparkContext

    from daily_top_songs_etl_spark.catalog import flush_trash

    flush_trash(shutdown=True)
    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 — last resort on a stuck JVM
            proc.kill()
            proc.wait(timeout=30)
