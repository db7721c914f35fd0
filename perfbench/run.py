"""Benchmark of the clinical analytics engine, end to end and per layer.

    python3 perfbench/run.py --workload cohort --seed 1 --seconds 10 --trace 0

Run from the repository root. One Python process drives one client in a
closed loop (the next op starts when the previous one returns) against a
``local[nproc]`` session. Inputs are the ``sf0.01`` test tables shipped in
``perfbench/data``; the seed draws the cohort parameters and the op order of
every pass. The run

1. computes every op's expected result with DuckDB;
2. starts the session once, from a process with no JVM yet, and runs one
   warm-up pass that collects every op's result for the check;
3. times whole passes over the workload's op list for ``--seconds``, and
   for at least the workload's ``min_passes``, in wall and CPU time;
4. stops the session, its JVM and every other process it started, and
   waits for each to end, on every way out (a SIGTERM included).

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` alternates
untraced and traced passes and prints the per-layer metrics and the tracing
overhead. The last line is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``. ``perfbench/README.md`` defines every metric.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# End-to-end metrics of the result line: those every workload reports, that
# are never 0 and that repeat from run to run on a host shared with other
# guests (README.md, Steadiness). The wall times, peak RSS, write_p50_s
# (cohort only), fail_ratio (0 on a clean run; also ``failed`` over
# ``attempted``) and query_tail_s are printed in the report lines.
END_TO_END = ("setup_s", "pass_cpu_s", "query_cpu_s")
LAYER_JOBS = ("sources", "queries", "operators", "writers")


def _configure(work: str) -> dict[str, str]:
    """Keep every file the session writes under ``work``, size the session
    for a shared machine, and return the session conf."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count() or 4))
    return {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
        "spark.ui.showConsoleProgress": "false",
        # Traced passes read stage metrics back after the pass ends.
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    }


def _peak_rss_kb(pid) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    raise RuntimeError(f"no VmHWM for process {pid}")


def _reset_peak_rss(pid) -> None:
    with open(f"/proc/{pid}/clear_refs", "w") as fh:
        fh.write("5")


def _cpu_s(pids: list[int]) -> float:
    """CPU seconds (user and system, their reaped children included) the
    processes ``pids`` have used so far; a process that has ended adds 0."""
    ticks = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(x) for x in f[11:15])
    return ticks / os.sysconf("SC_CLK_TCK")


def _host_steal_s() -> float:
    """CPU seconds the hypervisor has taken from this machine's vCPUs."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def _descendants(root: int) -> list[int]:
    """Pids of every live process below ``root``, found through /proc."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), ()):
            out.append(c)
            todo.append(c)
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _stop_processes(spark, grace: float = 30.0) -> None:
    """Stop the session and its JVM, then every other process this one
    started (Python workers of the JVM among them), and wait for each to
    end. The JVM exits when its stdin closes; whatever is left after
    ``grace`` seconds is killed."""
    import signal
    import subprocess

    from pyspark import SparkContext

    started = _descendants(os.getpid())
    if spark is not None:
        try:
            spark.stop()
        except Exception:  # noqa: BLE001 -- the JVM is stopped below either way
            traceback.print_exc(file=sys.stderr)
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = gateway.proc
        try:
            gateway.shutdown()
        except Exception:  # noqa: BLE001 -- closing stdin ends the JVM anyway
            pass
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=grace)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + grace
    left = [p for p in started if _alive(p)]
    while left:
        if time.monotonic() > deadline:
            for p in left:
                try:
                    os.kill(p, signal.SIGKILL)
                except OSError:
                    pass
        for p in left:
            try:
                os.waitpid(p, os.WNOHANG)  # reap it if it is our own child
            except ChildProcessError:
                pass
        time.sleep(0.05)
        left = [p for p in left if _alive(p)]


def _parquet_files(path: str) -> tuple[int, int]:
    files = size = 0
    for d, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(d, n))
    return files, size


class Runner:
    def __init__(self, workload: str, seed: int, traced: bool, work: str):
        import workloads
        from tracing import Tracer

        self.wl = workloads.WORKLOADS[workload]
        self.seed = seed
        self.ops = workloads.op_list(workload, seed)
        self.traced = traced
        self.data = self.wl.data_dir
        self.out = os.path.join(work, "out")
        self.tracer = Tracer()
        self.spark = None
        self.errors: dict[str, str] = {}
        self.writes = [0, 0]  # parquet files and bytes written in traced passes
        self.archive: list = []  # spans of every traced pass
        self.rows: dict[str, int] = {}  # result rows per query op

    def build(self, op):
        from datamodel_clinicaldata_spark import pipeline
        from datamodel_clinicaldata_spark.registry import QUERIES

        if op.cohort is None:
            return QUERIES[op.name](self.spark, self.data)
        p = op.cohort
        users, weights, treatments = pipeline.clinical_standins_from_testdata(
            self.spark, self.data
        )
        return pipeline.run_cohort_pipeline(
            users, weights, treatments, cohort=p.cohort, gender=p.gender,
            min_age=p.min_age, max_age=p.max_age, clinic_id=p.clinic_id,
        )

    def run_op(self, op, collect: bool = False):
        """Build, plan and run one op. With ``collect`` a query op returns
        its rows as pandas and a materialize op the path it wrote."""
        from datamodel_clinicaldata_spark.sources import writers

        t = self.tracer
        with t.span("op", op.name):
            with t.span("queries", op.name):
                df = self.build(op)
            with t.span("planning", op.name):
                df._jdf.queryExecution().executedPlan()
            if op.kind == "materialize":
                path = os.path.join(self.out, op.name)
                writers.write_partitioned(df, path, ["ClinicID"])
                if t.enabled:
                    files, size = _parquet_files(path)
                    self.writes[0] += files
                    self.writes[1] += size
                return path
            with t.span("operators", op.name):
                if collect:
                    return df.toPandas()
                df.write.format("noop").mode("overwrite").save()
        return None

    def start_session(self, conf: dict) -> None:
        from datamodel_clinicaldata_spark import session

        self.spark = session.get_spark("perfbench", extra_conf=conf)
        self.tracer.sc = self.spark.sparkContext

    def warm_up(self) -> dict:
        """Run every op once and keep its result for the output check."""
        results = {}
        for op in self.ops:
            try:
                results[op.name] = self.run_op(op, collect=True)
            except Exception:  # noqa: BLE001 -- counted and named in the report
                self.errors.setdefault(op.name, traceback.format_exc(limit=3))
        self.rows = {
            k: len(v) for k, v in results.items() if not isinstance(v, str)
        }
        return results

    def measure(self, seconds: float) -> dict:
        """Time whole passes: the workload's ``min_passes``, then more while
        the last pass's length still fits in ``seconds``. Each untraced op
        and pass records its wall time and the CPU time of this process,
        the JVM and the JVM's Python workers. A traced run traces passes 1,
        2, 5, 6, ... so that traced and untraced passes alternate in ABBA
        order; it runs at least one such block of four."""
        import workloads

        m = {"pass": [], "pass_cpu": [], "pass_traced": [], "query": [],
             "query_cpu": [], "materialize": [], "by_op": {}, "layers": [],
             "attempted": 0, "failed": 0}
        t_end = time.perf_counter() + seconds
        need = max(self.wl.min_passes, 4 if self.traced else 1)
        n, last = 0, 0.0
        while n < need or time.perf_counter() + last <= t_end:
            traced = self.traced and n % 4 in (1, 2)
            self.tracer.enabled = traced
            self.writes = [0, 0]
            # The JVM's Python workers are forked by a daemon that lives as
            # long as the JVM; workers it reaps count in its children's time.
            pids = [os.getpid(), *_descendants(os.getpid())]
            t_pass, cpu_pass = time.perf_counter(), _cpu_s(pids)
            for op in workloads.pass_order(self.ops, self.seed, n):
                m["attempted"] += 1
                self.tracer.op = m["attempted"]
                cpu0, t0 = _cpu_s(pids), time.perf_counter()
                try:
                    self.run_op(op)
                except Exception:  # noqa: BLE001 -- a failed op is counted, the run goes on
                    self.errors.setdefault(op.name, traceback.format_exc(limit=3))
                    m["failed"] += 1
                    continue
                if not traced:
                    dt = time.perf_counter() - t0
                    m[op.kind].append(dt)
                    m["by_op"].setdefault(op.name, []).append(dt)
                    if op.kind == "query":
                        m["query_cpu"].append(_cpu_s(pids) - cpu0)
            last = time.perf_counter() - t_pass
            self.tracer.enabled = False
            if traced:
                m["pass_traced"].append(last)
                m["layers"].append(self.pass_layers(self.tracer.take()))
            else:
                m["pass"].append(last)
                m["pass_cpu"].append(_cpu_s(pids) - cpu_pass)
            n += 1
        return m

    def pass_layers(self, spans) -> dict:
        """Per-layer totals of one traced pass."""
        from stats import layer_self_times
        from tracing import stage_totals

        self_s = layer_self_times(spans)
        jobs = {layer: [] for layer in LAYER_JOBS}
        for s in spans:
            if s.layer in jobs:
                jobs[s.layer].extend(s.jobs)
        ops = stage_totals(self.spark.sparkContext, jobs["operators"])
        exec_s = self_s.get("operators", 0.0)
        cpus = int(os.environ["SPARK_GRAFT_CPUS"])
        self.archive.extend(spans)
        return {
            "sources.reads": sum(s.name.startswith("DataFrameReader.") for s in spans),
            "sources.read_s": self_s.get("sources", 0.0),
            "sources.read_jobs": len(jobs["sources"]),
            "queries.build_s": self_s.get("queries", 0.0),
            "queries.build_jobs": len(jobs["queries"]),
            "planning.plan_s": self_s.get("planning", 0.0),
            "operators.exec_s": exec_s,
            "operators.jobs": len(jobs["operators"]),
            **{f"operators.{k}": v for k, v in ops.items()},
            "operators.output_rows": sum(
                self.rows.get(s.name, 0) for s in spans if s.layer == "operators"
            ),
            "operators.core_util": ops["task_s"] / (exec_s * cpus) if exec_s else 0.0,
            "writers.write_s": self_s.get("writers", 0.0),
            "writers.files": self.writes[0],
            "writers.bytes_mb": self.writes[1] / (1 << 20),
            "trace.other_s": self_s.get("op", 0.0),
        }


def _unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    return "ratio" if name.endswith("core_util") else "count"


def _rows(data_dir: str) -> dict[str, int]:
    import pyarrow.parquet as pq

    return {
        n[: -len(".parquet")]: pq.read_metadata(os.path.join(data_dir, n)).num_rows
        for n in sorted(os.listdir(data_dir))
        if n.endswith(".parquet")
    }


def run(args) -> tuple[dict, list[str]]:
    """Run one workload; returns the result object and the report lines."""
    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    conf = _configure(work)
    sys.path.insert(0, ROOT)
    import check
    import stats
    from tracing import install_layer_wrappers

    r = Runner(args.workload, args.seed, bool(args.trace), work)
    try:
        oracles = check.oracle_frames(r.data, r.ops)
        if r.traced:
            install_layer_wrappers(r.tracer)
            r.tracer.enabled = True
        t0 = time.perf_counter()
        r.start_session(conf)
        started = time.perf_counter()
        results = r.warm_up()
        r.tracer.enabled = False
        setup_s = time.perf_counter() - t0
        session_s = [s.duration for s in r.tracer.take() if s.layer == "session"]
        mismatches = check.compare_all(r, results, oracles)
        del results, oracles
        jvm = r.spark.sparkContext._gateway.proc.pid
        _reset_peak_rss(jvm)
        _reset_peak_rss("self")
        steal0, t_meas = _host_steal_s(), time.perf_counter()
        m = r.measure(args.seconds)
        steal = _host_steal_s() - steal0
        vcpu_s = (time.perf_counter() - t_meas) * (os.cpu_count() or 1)
        peak_mb = (_peak_rss_kb(jvm) + _peak_rss_kb("self")) / 1024
    finally:
        _stop_processes(r.spark)
        shutil.rmtree(work, ignore_errors=True)

    bad = {**{k: v.strip().splitlines()[-1] for k, v in r.errors.items()}, **mismatches}
    passes = len(m["pass"]) + len(m["pass_traced"])
    failed = stats.failed_ops(m["failed"], passes, set(mismatches), set(r.errors))
    rows = _rows(r.data)
    lines = [
        f"workload {args.workload}: {r.wl.data} testdata "
        f"({', '.join(f'{t} {n}' for t, n in rows.items())} rows), "
        f"{len(r.ops)} ops per pass, {passes} passes, seed {args.seed}; "
        f"closed loop, 1 client, local[{os.environ['SPARK_GRAFT_CPUS']}]",
        f"  the hypervisor took {steal:.1f} of {vcpu_s:.0f} vCPU seconds "
        f"during the timed passes ({steal / vcpu_s:.1%}); wall times grow "
        "with it much more than CPU times",
    ]
    q = m["query"]
    if not args.trace:
        tail = stats.tail(q)
        shown = {
            "setup_s": (setup_s, "s"),
            "pass_cpu_s": (stats.median(m["pass_cpu"]), "s"),
            "query_cpu_s": (stats.median(m["query_cpu"]), "s"),
            "pass_p50_s": (stats.median(m["pass"]), "s"),
            "query_p50_s": (stats.median(q), "s"),
            "peak_rss_mb": (peak_mb, "MB"),
        }
        if tail:
            shown["query_tail_s"] = (tail[0], "s")
        if m["materialize"]:
            shown["write_p50_s"] = (stats.median(m["materialize"]), "s")
        shown["fail_ratio"] = (stats.fail_ratio(failed, m["attempted"]), "ratio")
        metrics = {k: shown[k] for k in END_TO_END}
        lines += [f"{k} = {v:.6g} {u}" for k, (v, u) in shown.items()]
        lines.append(
            f"  query_tail_s is p{tail[1]:.1f} of {tail[2]} query ops" if tail
            else f"  no query_tail_s: {len(q)} query ops, a tail needs 11"
        )
        lines.append("  op seconds: " + ", ".join(
            f"{k} " + "/".join(f"{x:.2f}" for x in v) for k, v in sorted(m["by_op"].items())
        ))
        lines.append(
            f"  setup_s = session start {started - t0:.3f} s "
            f"+ warm-up pass {t0 + setup_s - started:.3f} s"
        )
    else:
        metrics = {"session.start_s": (stats.median(session_s), "s")}
        for k in m["layers"][0]:
            metrics[k] = (stats.median([p[k] for p in m["layers"]]), _unit(k))
        traced_p50 = stats.median(m["pass_traced"])
        untraced_p50 = stats.median(m["pass"])
        metrics["trace.overhead_s"] = (traced_p50 - untraced_p50, "s")
        lines += [f"{k} = {v:.6g} {u}" for k, (v, u) in metrics.items()]
        path = os.path.join(HERE, ".work", "traces", f"{args.workload}-seed{args.seed}.json")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump([vars(s) for s in r.archive], fh)
        lines.append(
            f"  pass p50 traced {traced_p50:.3f} s, untraced {untraced_p50:.3f} s; "
            f"{len(r.archive)} spans in {os.path.relpath(path, ROOT)}"
        )
    lines.append(
        f"output check: {len(r.ops) - len(bad)}/{len(r.ops)} ops match their oracle"
        + "".join(f"\n  FAILED {k}: {v}" for k, v in sorted(bad.items()))
    )
    result = {
        "correct": not bad and failed == 0,
        "attempted": m["attempted"],
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    return result, lines


def _exit_on_signal(signum, frame):
    raise SystemExit(128 + signum)


def main(argv: list[str] | None = None) -> int:
    import signal

    # A terminated run still stops the JVM it started (``run``'s finally).
    for sig in (signal.SIGTERM, signal.SIGHUP):
        signal.signal(sig, _exit_on_signal)
    sys.path.insert(0, HERE)
    import workloads

    p = argparse.ArgumentParser(description="Benchmark one workload of the engine.")
    p.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument(
        "--seconds", type=float, required=True,
        help="measure whole passes for this long (at least the workload's min_passes)",
    )
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    result, lines = run(args)
    print("\n".join(lines))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
