"""Quick A/B cell timer for optimization work — NOT the driver bench.

    python tools/ab_time.py <sf_dir> <repeats> <query> [query ...]

One session, per query: one untimed warm run, then <repeats> timed noop-sink
runs; prints min/median, ``compiles``, the number of classes Spark's
code generator compiled during the timed runs (0 when every repeat reuses
its generated code), and ``child_cpu``, the CPU seconds of the processes
the JVM started and reaped during them (0 unless something forks, such as
a local write without the session's NIO file system). Each run starts from
an empty cache, so the cohort pipeline's persisted models never turn a run
into a model hit.
Methodology matches bench.py's steady-state timing (guide §1.4) without its
quiesce/canary/probe machinery, so use it only for relative A/B on the same
box within minutes of itself.
"""
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def reaped_child_cpu_s(pid: int) -> float:
    """cutime + cstime of ``pid`` in seconds, from /proc/<pid>/stat."""
    with open(f"/proc/{pid}/stat") as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    return (int(fields[13]) + int(fields[14])) / os.sysconf("SC_CLK_TCK")


def main() -> None:
    sf_dir = sys.argv[1]
    reps = int(sys.argv[2])
    names = sys.argv[3:]
    from datamodel_clinicaldata_spark.registry import QUERIES
    from datamodel_clinicaldata_spark.session import get_spark

    spark = get_spark("ab_time")
    jvm = spark.sparkContext._jvm
    compiled = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    jvm_pid = jvm.java.lang.ProcessHandle.current().pid()
    for n in names:
        spark.sparkContext.setJobDescription(f"warm:{n}")
        spark.catalog.clearCache()
        QUERIES[n](spark, sf_dir).write.mode("overwrite").format("noop").save()
        ts = []
        c0, child0 = compiled.getCount(), reaped_child_cpu_s(jvm_pid)
        for i in range(reps):
            spark.sparkContext.setJobDescription(f"timed:{n}:{i}")
            spark.catalog.clearCache()
            t0 = time.monotonic()
            QUERIES[n](spark, sf_dir).write.mode("overwrite").format("noop").save()
            ts.append(time.monotonic() - t0)
        print(
            f"AB {n} min={min(ts):.3f} med={statistics.median(ts):.3f} "
            f"compiles={compiled.getCount() - c0} "
            f"child_cpu={reaped_child_cpu_s(jvm_pid) - child0:.2f} "
            f"runs={[round(t, 3) for t in ts]}",
            flush=True,
        )
    spark.stop()


if __name__ == "__main__":
    main()
