"""SparkSession factory with scale-aware defaults.

Local test runs use ``local[N]``; the same config block is what we would
ship to a 1000-executor cluster — AQE on (runtime re-planning, skew-join
splitting, partition coalescing), Arrow transfer for the Pandas-UDF slow
path, UTC session timezone so timestamp semantics are stable across the
DuckDB oracle and any cluster.
"""

from __future__ import annotations

import functools
import logging
import os

from pyspark.sql import SparkSession

_log = logging.getLogger(__name__)


def _default_local_dir() -> str | None:
    """RAM-backed shuffle/spill dir when the host can afford it.

    Shuffle files and sort-spills go to ``spark.local.dir``. On this
    containerized bench host the backing disk exhibits bursty multi-×
    write stalls (hypervisor contention — measured: the same shuffle
    stage at 0.7 s or 8.7 s run-to-run with identical plans), so local
    runs point local.dir at ``/dev/shm`` when it exists with ample
    headroom (≥ 48 GiB free — the measured probe-scale shuffle volume
    is < 5 GiB, so this is a wide margin). SF ceiling for the RAM dir:
    headroom is checked once at session build, so runs whose shuffle
    volume could approach the free-space margin (roughly sf ≥ 10 on the
    documented ~0.5 GiB-shuffle-per-sf-0.1 profile, or any 100M-row+
    probe) should set ``SPARK_GRAFT_LOCAL_DIR=`` (empty) to fall back to
    disk rather than risk mid-run ENOSPC on tmpfs. Stale contents from a
    crashed run are swept at startup (tmpfs pages count against RAM).
    On a real cluster this knob is instead provisioned as striped local
    NVMe per executor (the standard deployment guidance);
    ``SPARK_GRAFT_LOCAL_DIR`` overrides unconditionally, and an empty
    value opts out entirely."""
    env = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if env is not None:
        return env or None
    try:
        path = "/dev/shm/spark_graft_local"
        # tmpfs pages count against RAM: a crashed run's orphaned shuffle
        # files would otherwise consume memory forever AND shrink the
        # headroom this very check measures. No live Spark process on
        # this box means nothing under the dir is in use — sweep it
        # before checking headroom. (Best-effort: a concurrent session
        # in another process may hold files; ENOENT/EBUSY are ignored.)
        if os.path.isdir(path) and not _other_spark_running():
            _sweep_stale_local_dir(path)
        st = os.statvfs("/dev/shm")
        if st.f_bavail * st.f_frsize >= 48 * (1 << 30):
            return path
    except OSError:
        pass
    return None


# Entries of the shared local dir younger than this are never swept.
_SWEEP_MIN_AGE_SEC = 120.0


def _sweep_stale_local_dir(path: str) -> None:
    """Delete STALE entries under the shared /dev/shm local dir.

    Race (ADVICE r11): another Python driver that passed its own
    _other_spark_running check but has not yet forked its JVM is
    invisible to the cmdline scan — an unguarded sweep could delete
    shuffle dirs that session is about to use. Two guards:

    - an O_EXCL lock file serializes concurrent sweepers (a loser skips
      the sweep entirely; locks older than 10 min are treated as crashed
      and broken);
    - only entries older than ``_SWEEP_MIN_AGE_SEC`` (by mtime) are
      swept — a directory a just-starting session created moments ago is
      left alone even if that session's JVM isn't visible yet, while
      orphans from a crashed run (hours old) are reclaimed.
    """
    import shutil
    import time

    lock = path + ".sweeplock"
    try:
        fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
    except FileExistsError:
        try:
            st = os.stat(lock)
            if time.time() - st.st_mtime > 600:
                # Crashed sweeper: break the lock — but re-verify identity
                # first (ADVICE r12 TOCTOU: between getmtime and unlink
                # another process may have broken the stale lock AND
                # created a fresh one; unlinking that would admit two
                # sweepers). A stat identity check narrows the window to
                # ~µs; the residual race is tolerated because the
                # min_age mtime gate below makes the sweep idempotent —
                # the lock is best-effort serialization, the age gate is
                # the actual correctness guard.
                st2 = os.stat(lock)
                if (st2.st_ino, st2.st_mtime_ns) == (st.st_ino, st.st_mtime_ns):
                    os.unlink(lock)  # next caller retries
        except OSError:
            pass
        return
    except OSError:
        return
    try:
        now = time.time()
        for entry in os.listdir(path):
            p = os.path.join(path, entry)
            try:
                if now - os.path.getmtime(p) > _SWEEP_MIN_AGE_SEC:
                    shutil.rmtree(p, ignore_errors=True)
            except OSError:
                continue
    finally:
        os.close(fd)
        try:
            os.unlink(lock)
        except OSError:
            pass


def _other_spark_running() -> bool:
    """True if another live process on this host looks like a JVM/Spark
    driver (its shuffle dirs under /dev/shm must not be swept). Scans
    /proc cmdlines for 'java' outside our own pid; best-effort — any
    failure reports True (i.e. do NOT sweep)."""
    try:
        me = os.getpid()
        for pid in os.listdir("/proc"):
            if not pid.isdigit() or int(pid) == me:
                continue
            try:
                with open(f"/proc/{pid}/cmdline", "rb") as fh:
                    cmd = fh.read()
            except OSError:
                continue
            if b"java" in cmd and b"spark" in cmd.lower():
                return True
        return False
    except OSError:
        return True


def _default_driver_mem() -> str:
    """min(48g, ~60% of MemAvailable), floored at 2g.

    Reads /proc/meminfo (Linux); on other platforms or parse failure,
    falls back to the 48g bench-host default.
    """
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                if line.startswith("MemAvailable:"):
                    avail_gb = int(line.split()[1]) // (1024 * 1024)
                    return f"{max(2, min(48, (avail_gb * 6) // 10))}g"
    except OSError:
        pass
    return "48g"


_JVM_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "jvm")
NIO_LOCAL_FS = "datamodel_clinicaldata_spark.jvm.NioLocalFileSystem"


@functools.cache
def _nio_local_fs_jar() -> str | None:
    """The jar of ``jvm/NioLocalFileSystem.java``, compiled on first use.

    Without the native Hadoop library, Hadoop's local file system runs a
    ``chmod`` process for every directory it makes and every file it
    creates (about 85 per cohort write); the class sets the same mode bits
    through java.nio. It is compiled against Spark's Hadoop client jar
    only, and cached under ``jvm/build/`` by a key over the source and
    that jar, so a session pays the 0.6–0.8 s of ``javac`` once per
    checkout. Any failure (no ``javac``, a read-only checkout) logs one
    warning and returns None, which keeps Hadoop's own local file system."""
    import glob
    import hashlib
    import shutil
    import subprocess
    import tempfile

    import pyspark

    spark_home = os.environ.get("SPARK_HOME") or os.path.dirname(pyspark.__file__)
    hadoop = sorted(glob.glob(os.path.join(spark_home, "jars", "hadoop-client-api-*.jar")))
    java_bin = os.path.join(os.environ.get("JAVA_HOME", ""), "bin")
    javac = shutil.which("javac", path=java_bin) or shutil.which("javac")
    if not hadoop or not javac:
        _log.warning("no javac or Hadoop client jar: local writes fork chmod")
        return None
    src = os.path.join(_JVM_DIR, "NioLocalFileSystem.java")
    key = hashlib.sha256()
    with open(src, "rb") as fh:
        key.update(fh.read())
    key.update(f"{os.path.basename(hadoop[-1])}:{os.path.getsize(hadoop[-1])}".encode())
    jar = os.path.join(_JVM_DIR, "build", f"nio-local-fs-{key.hexdigest()[:16]}.jar")
    if os.path.exists(jar):
        return jar
    try:
        os.makedirs(os.path.dirname(jar), exist_ok=True)
        with tempfile.TemporaryDirectory(dir=os.path.dirname(jar)) as tmp:
            classes = os.path.join(tmp, "classes")
            subprocess.run(
                # C1 only: javac's own JIT work is most of a cold compile.
                [javac, "-J-XX:TieredStopAtLevel=1", "--release", "17",
                 "-cp", hadoop[-1], "-d", classes, src],
                check=True, capture_output=True,
            )
            os.replace(shutil.make_archive(os.path.join(tmp, "part"), "zip", classes), jar)
    except (OSError, subprocess.CalledProcessError) as e:
        _log.warning("could not build %s (%s): local writes fork chmod", jar, e)
        return None
    return jar


def _nio_local_fs_on_classpath() -> bool:
    """True unless a JVM that did not start with the jar already runs:
    its classpath is fixed, and an ``fs.file.impl`` it cannot load would
    fail every local file operation."""
    from pyspark import SparkContext

    jvm = SparkContext._jvm
    return jvm is None or jvm.org.apache.spark.util.Utils.classIsLoadable(NIO_LOCAL_FS)


def get_spark(
    app_name: str = "datamodel_clinicaldata_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build the session, or return the live one unchanged.

    The conf below applies only when a session is created: re-applying it
    to a live session (``getOrCreate`` would) silently resets whatever its
    owner set, e.g. a test fixture's shuffle partition count.

    ``shuffle_partitions`` defaults to the local core count: at local scale
    200 shuffle partitions (Spark's default) means 200 tiny tasks per
    exchange; on a real cluster this knob is instead sized so each shuffle
    partition lands in the 100-200 MB range. AQE's coalescePartitions then
    shrinks over-partitioned exchanges at runtime either way.
    """
    live = SparkSession.getActiveSession()
    if live is not None:
        return live
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Let AQE coalesce the shuffles inside a persisted plan (the
        # pipeline's cohort models) as it does in an uncached one;
        # otherwise a model keeps every shuffle partition and a write over
        # it emits one file per partition per directory.
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # Kept for testdata drops that store events.ts as parquet
        # TIMESTAMP(NANOS), which the vectorized reader rejects: such a
        # column reads as long and sources.readers._normalize_event_ts
        # converts it (see readers._EVENT_TS_COLUMNS).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # The engine stages multi-window pipelines in dependency order so
        # windows with byte-identical sort requirements sit adjacent and
        # share ONE in-partition sort (operators/windows.py). TransposeWindow
        # re-sinks any window whose partition keys are a subset of its
        # neighbor's (patient ⊂ treatment ⊂ cohort), wedging a cohort sort
        # between the patient/treatment pair → +1 full-data sort pass per
        # query (measured ~35% on the flagship pipeline at sf0.1).
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.TransposeWindow",
        )
        # Untruncated FileScan metadata (default 100 chars cuts
        # PushedFilters mid-token) — the plan audits parse these lists.
        .config("spark.sql.maxMetadataStringLength", "10000")
        # One long-lived session answers the same queries again and again,
        # so each repeat should reuse its generated classes. Spark's
        # JVM-wide cache of them holds 100 by default, while one pass of
        # the eleven perfbench fixed_cost queries compiles ~150 and one
        # sweep of the registry at sf0.001 2,877 (the largest query, 56):
        # the cache cycled, and every repeat compiled again with Janino,
        # loaded the classes again and re-ran HotSpot's JIT on them. 4096
        # holds the registry's working set. It is read once, when the
        # cache is first used, so it must be set here.
        .config("spark.sql.codegen.cache.maxEntries", "4096")
        .config("spark.ui.enabled", "false")
        # local[N] runs executors INSIDE the driver JVM, so this one heap
        # serves all N task threads: 8g across 32 tasks (250 MB each) OOM'd
        # the 50M-row scale probe after a bench's worth of checkpoint
        # blocks. Default = min(48g, ~60% of MemAvailable) so the bench
        # host gets its 48g ≈ 1.5 GB/task (the ratio a real cluster's
        # executors would get) while a smaller / cgroup-limited machine
        # gets a heap the OS can actually back instead of an OOM-kill
        # (ADVICE r7). SPARK_GRAFT_DRIVER_MEM overrides unconditionally.
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", _default_driver_mem()),
        )
        # ObjectHashAggregate (collect_list/collect_set — the postings
        # builds across the dedup/text families) falls back to SORT-BASED
        # aggregation with a disk spill after only 128 distinct keys per
        # task (Spark's default fallbackThreshold), so every postings
        # aggregate was paying a per-task spill regardless of memory
        # headroom. Entries here are (key, small-array) pairs and
        # per-task group cardinality is bounded by shuffle partition
        # sizing (the 100-200 MB/partition doctrine), so a multi-million
        # entry in-memory map is the right trade on any host with real
        # executor memory; 4M keeps worst-case map memory bounded
        # (~hundreds of MB) while removing the spill from every measured
        # plan. Same knob ships unchanged to a cluster.
        .config(
            "spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
            "4000000",
        )
    )
    local_dir = _default_local_dir()
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
    extra = dict(extra_conf or {})
    # Only a local master runs its tasks in the driver JVM, whose classpath
    # the jar joins; executors on a cluster would not have the class.
    jar = (
        _nio_local_fs_jar()
        if master == "local" or master.startswith("local[")
        else None
    )
    if jar and _nio_local_fs_on_classpath():
        builder = builder.config("spark.hadoop.fs.file.impl", NIO_LOCAL_FS)
        cp = extra.get("spark.driver.extraClassPath")
        extra["spark.driver.extraClassPath"] = os.pathsep.join(filter(None, [jar, cp]))
    for k, v in extra.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
