"""Lake-mover benchmark.

    python3 perfbench/run.py --workload file_movers --seed 1 --seconds 10 --trace 0

Run from the repository root. Generates the workload's inputs from
``--seed`` under ``.perfbench_work/`` (deleted again at exit), sets up Spark
through ``session.get_spark`` sized to this host, runs a first job, the
workload's once-per-run checks and its untimed warm-up jobs, then runs
closed-loop jobs (one client) for ``--seconds`` seconds and at least two
jobs, checking every job's output. The last stdout line is one
JSON object ``{"correct", "attempted", "failed", "metrics"}``; the line
before it records the environment and the sample counts.

Workloads (see ``workloads.py``): ``file_movers`` runs pipeline A (archive by
manifest) then pipeline B (filter-move) per job; ``lake_queries`` runs one
pass over a fixed mix of registry queries per job.

``--trace 0`` reports the end-to-end metrics, with tracing off. They are
CPU seconds — user plus system time of this process, its JVM and the Python
workers the JVM forks — because on a shared host the wall time of the same
job swings by half from run to run with the CPU time stolen by neighbours,
while its CPU time moves far less:

- ``setup_s``: CPU time of ``get_spark`` (JVM launch included) plus the
  first job, which the loop does not time, JIT compilation included.
  ``lake_queries`` then checks its mix against the DuckDB oracles, untimed.
- ``job_cpu_s``: median CPU time of one timed job, less what the JVM's JIT
  compiler threads spent in it (see ``spans.tree_cpu_s``).
- ``ops_per_cpu_s``: files completed with audit status ok (``file_movers``)
  or queries completed (``lake_queries``) per CPU second, median over jobs.
- ``mb_per_cpu_s``: bytes copied (``file_movers``) or the size of the
  lake's tables (``lake_queries``) per CPU second, median over jobs.

A job's files, bytes and queries are the same for every seed, so the last
two figures follow ``job_cpu_s``; they are there in the units a user reads.
All four are CPU time, so work spread over more cores at the same CPU cost
does not show in them: such a change is judged on the wall figures below,
compared over paired runs. A change in how much code the JIT compiles shows
in ``setup_s`` only.

The line before the result gives the same four figures in wall seconds
(``setup_s``, ``job_s``, ``ops_per_s``, ``mb_per_s``), ungated.

Failed operations (audit ``error`` rows, query exceptions and mismatches
with the expected output) are the JSON's ``failed`` out of ``attempted``.

``--trace 1`` alternates untraced jobs and traced ones, whose calls into
the program's public functions are wrapped in spans (see ``spans.py``), and
reports the per-layer metrics, among them ``session.peak_rss_mb``, the peak
resident memory of this process plus its JVM (the JVM sizes its heap
adaptively, so it varies too much between runs to gate on); a layer the
workload does not reach reads 0.
The spans are written to ``.perfbench_out/trace-<workload>-<seed>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback
from pathlib import Path

from spans import Tracer, tree_cpu_s
from workloads import MIX, WORKLOADS, install_tracing, layer_metrics

ROOT = Path(__file__).resolve().parent.parent
PKG = "py_datalake_move_files_spark"

#: fewest timed jobs per run, and per half of a traced run
MIN_JOBS = 2

END_TO_END = {
    "setup_s": "s",
    "job_cpu_s": "s",
    "ops_per_cpu_s": "1/s",
    "mb_per_cpu_s": "MB/s",
}
PER_LAYER = {
    "session.get_spark_s": "s",
    "session.gc_s": "s",
    "session.peak_rss_mb": "MB",
    "catalog.read_manifest_csv_s": "s",
    "catalog.manifest_rows": "count",
    "catalog.load_table_s": "s",
    "sources.list_files_s": "s",
    "sources.files_listed": "count",
    "sources.scan_tasks": "count",
    "sources.content_scan_s": "s",
    "sources.input_mb": "MB",
    "sources.bytes_read_per_byte_selected": "ratio",
    "operators.build_archive_plan_s": "s",
    "operators.archive_shuffle_mb": "MB",
    "operators.filter_probe_s": "s",
    "operators.rows_examined_per_result": "ratio",
    "plans.execute_plan_s": "s",
    "plans.execute_tasks": "count",
    "plans.files_per_task": "ratio",
    "plans.mb_copied": "MB",
    "plans.ops_attempted": "count",
    "plans.ops_failed": "count",
    "plans.audit_summary_s": "s",
    "queries.tasks": "count",
    "queries.shuffle_read_mb": "MB",
    "queries.shuffle_write_mb": "MB",
    "queries.query_s_p50": "s",
    "cli.cmd_archive_s": "s",
    "cli.cmd_move_s": "s",
    "trace.overhead_s": "s",
    "failed_ops_ratio": "ratio",
}


def _pin_environment(work: Path) -> dict:
    """Size Spark to this host and keep its scratch inside ``work``."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        ram_mb = int(next(ln for ln in f if ln.startswith("MemTotal:")).split()[1]) // 1024
    driver_mb = max(1024, min(4096, ram_mb // 4))
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_GRAFT_DRIVER_MEM=f"{driver_mb}m",
        SPARK_LOCAL_DIRS=str(work / "spark-local"),
        TMPDIR=str(tmp),
    )
    os.environ.pop("SPARK_GRAFT_MASTER", None)
    os.environ.pop("SPARK_GRAFT_SHUFFLE_PARTITIONS", None)
    import tempfile

    tempfile.tempdir = None
    return {"nproc": cpus, "ram_mb": ram_mb, "driver_mem_mb": driver_mb}


def _spark_conf(work: Path) -> dict[str, str]:
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData"
        " -XX:-UseDynamicNumberOfCompilerThreads",
    }


def _peak_rss_mb(pids) -> float:
    total = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            total += int(next(ln for ln in f if ln.startswith("VmHWM:")).split()[1])
    return total / 1024


def _stop_jvm(spark) -> None:
    """Stop Spark and its JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    if spark is not None:
        try:
            spark.stop()
        except Exception:  # a signal cut a call into the JVM short
            traceback.print_exc()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    finally:
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()
        SparkContext._gateway = SparkContext._jvm = None


class Bench:
    def __init__(self, args, work: Path) -> None:
        self.args = args
        self.work = work
        self.wl = WORKLOADS[args.workload](str(work), args.seed)
        self.tracer = Tracer()
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.jobs = 0

    def _count(self, job) -> None:
        """Add a job's (or the checks') operations to the run's totals."""
        if _signalled:  # the program may have caught the signal's exception
            sys.exit(128 + _signalled[0])
        self.attempted += job.attempted
        self.failed += job.failed
        self.jobs += 1

    def setup(self) -> tuple[float, float]:
        """Start Spark and run the first job, which the loop does not time.
        Returns the wall and CPU seconds (JIT compilation included) of
        ``get_spark`` and that first job."""
        from py_datalake_move_files_spark.session import get_spark

        self.tracer.job = "setup"
        cpu0, t0 = tree_cpu_s(), time.perf_counter()
        with self.tracer.span("session.get_spark"):
            self.spark = get_spark("perfbench", extra_conf=_spark_conf(self.work))
            self.spark.sparkContext.setLogLevel("ERROR")
        self.tracer.spark = self.spark
        self._count(self.wl.run_job(self.spark, -1))
        return time.perf_counter() - t0, tree_cpu_s() - cpu0

    def loop(self, seconds: float, min_jobs: int, traced: bool = False) -> list:
        """Closed loop: the next job starts when the previous one has been
        checked and its lake reset; stops after ``seconds`` of wall time and
        at least ``min_jobs`` jobs."""
        jobs = []
        t0 = time.perf_counter()
        while len(jobs) < min_jobs or time.perf_counter() - t0 < seconds:
            i = self.jobs
            self.tracer.job = f"job-{i}" if traced else None
            job = self.wl.run_job(self.spark, i, self.tracer if traced else None)
            self._count(job)
            jobs.append((self.tracer.job, job))
            print(f"job {i}: {job.seconds:.3f} s {job.cpu_s:.2f} cpu-s", file=sys.stderr)
        return jobs

    def end_to_end(self, setup, jobs) -> tuple[dict, dict]:
        """The gated metrics, in CPU seconds, and the same figures in wall
        seconds, which are printed but not gated."""

        def median(f):
            return statistics.median(f(j) for _, j in jobs)

        setup_s, setup_cpu_s = setup
        cpu = {
            "setup_s": setup_cpu_s,
            "job_cpu_s": median(lambda j: j.cpu_s),
            "ops_per_cpu_s": median(lambda j: j.units / j.cpu_s),
            "mb_per_cpu_s": median(lambda j: j.bytes / 1e6 / j.cpu_s),
        }
        wall = {
            "setup_s": setup_s,
            "job_s": median(lambda j: j.seconds),
            "ops_per_s": median(lambda j: j.units / j.seconds),
            "mb_per_s": median(lambda j: j.bytes / 1e6 / j.seconds),
        }
        return cpu, wall

    def per_layer(self, plain, traced) -> dict:
        rows = [layer_metrics(self.tracer, self.wl, jid) for jid, _ in traced]
        names = list(PER_LAYER) + [f"queries.{q}_s" for q in MIX]
        out = {n: statistics.median([r.get(n, 0.0) for r in rows]) for n in names}
        out["session.get_spark_s"] = self.tracer.duration(
            self.tracer.find("setup", "session.get_spark")[0]
        )
        out["trace.overhead_s"] = statistics.median(
            j.seconds for _, j in traced
        ) - statistics.median(j.seconds for _, j in plain)
        out["failed_ops_ratio"] = self.failed / self.attempted
        out["session.peak_rss_mb"] = _peak_rss_mb(
            [os.getpid(), self.spark.sparkContext._gateway.proc.pid]
        )
        return out

    def run(self, env: dict) -> dict:
        t0 = time.perf_counter()
        self.wl.prepare()
        self.samples = {"prepare_s": time.perf_counter() - t0}
        setup = self.setup()
        self._count(self.wl.verify(self.spark))  # once-per-run checks, untimed
        self.loop(0, self.wl.warmup_jobs)
        seconds = self.args.seconds
        if not self.args.trace:
            jobs = self.loop(seconds, MIN_JOBS)
            values, wall = self.end_to_end(setup, jobs)
            units = END_TO_END
            self.samples.update(jobs=len(jobs), wall=wall)
        else:
            # alternate untraced and traced jobs, so that any drift in job
            # time during the run falls on both sides of the overhead
            plain, traced = [], []
            t0 = time.perf_counter()
            while len(traced) < MIN_JOBS or time.perf_counter() - t0 < seconds:
                plain += self.loop(0, 1)
                install_tracing(self.tracer, self.wl)
                try:
                    traced += self.loop(0, 1, traced=True)
                finally:
                    self.tracer.unpatch()
            values, units = self.per_layer(plain, traced), PER_LAYER
            self.samples.update(untraced_jobs=len(plain), traced_jobs=len(traced))
            out_dir = ROOT / ".perfbench_out"
            out_dir.mkdir(exist_ok=True)
            self.tracer.dump(
                str(out_dir / f"trace-{self.wl.name}-{self.args.seed}.json"),
                workload=self.wl.name,
                seed=self.args.seed,
                env=env,
            )
        return {
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {k: {"value": v, "unit": units.get(k, "s")} for k, v in values.items()},
        }


#: the signal that asked the run to stop, if one did
_signalled: list[int] = []


def _exit_on_sigterm(signum, frame):
    _signalled.append(signum)
    sys.exit(128 + signum)  # unwinds through main's cleanup


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    if not (ROOT / PKG / "__init__.py").is_file():
        print(f"perfbench: {PKG}/ not found under {ROOT}; run from a checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))

    signal.signal(signal.SIGTERM, _exit_on_sigterm)
    work = ROOT / ".perfbench_work" / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    env = _pin_environment(work)
    bench = None
    try:
        import pyspark

        env.update(spark=pyspark.__version__, python=sys.version.split()[0])
        bench = Bench(args, work)
        result = bench.run(env)
    finally:
        try:
            _stop_jvm(bench.spark if bench is not None else None)
        finally:
            shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"env": env, "samples": bench.samples}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
