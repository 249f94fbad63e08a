"""The two closed-loop workloads. One client — the benchmark process —
sends a job, waits for it to finish, checks its output against the
generator's expectation, resets the lake, then sends the next job.

- ``file_movers``: pipeline A through ``cli.cmd_archive --execute``
  (``ArchiveSmallFiles``), then pipeline B through ``cli.cmd_move
  --execute`` with a date window and a JSON key probe (``FilterMoveJson``).
- ``lake_queries``: one pass over a fixed mix of registry queries, each
  written to the noop sink, in a seed-permuted order.
"""

from __future__ import annotations

import argparse
import contextlib
import io
import os
import random
import re
import statistics
import sys
import time
import traceback
from dataclasses import dataclass

from lakes import JSON_KEY, JSON_VALUE, make_archive_lake, make_json_lake
from query_tables import write_tables
from spans import last_job_tasks, materialize, tree_cpu_s

MB = 1e6

#: the registry queries of the mix, one per query family. A run must fit a
#: cold JVM and first pass, the oracle check and two timed passes in about
#: a minute, so the costliest members of larger families stay out: the
#: TPC-H joins ``q5_region_revenue`` and ``q18_big_orders`` (``q3`` stands
#: for them), ``dedup_minhash_lsh`` (a third of a warm pass on its own) and
#: ``corpus_curation_pipeline`` (its DuckDB oracle alone takes 8 s), both
#: measured on tables a tenth of this size.
MIX = (
    "q1_pricing_summary",
    "q3_shipping_priority",
    "window_running_revenue",
    "sessionize_events",
    "ann_ivf_topk",
    "bm25_doc_retrieval",
    "manifest_archive_plan",
)


@dataclass
class Job:
    """One job's outcome: wall time, CPU time less JIT compilation (see
    ``spans.tree_cpu_s``), the units it completed (files with audit status
    ok, or queries), the bytes it copied or the size of the tables it
    covered, and how many operations it attempted (by the generator's
    count) and failed."""

    seconds: float = 0.0
    cpu_s: float = 0.0
    units: int = 0
    bytes: int = 0
    attempted: int = 0
    failed: int = 0


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _report(errors: list[str]) -> None:
    for e in errors[:10]:
        print(f"check failed: {e}", file=sys.stderr)


class FileWorkload:
    """One CLI file pipeline: ``command`` runs it, ``span_name`` names its
    span in a traced run."""

    command = ""
    span_name = ""

    def __init__(self, work: str, seed: int) -> None:
        self.work, self.seed = work, seed

    def run_job(self, spark, i: int, tracer=None) -> Job:
        from py_datalake_move_files_spark import cli

        args = self.args(i)
        buf = io.StringIO()
        failed = 0
        c0, t0 = tree_cpu_s(jit=False), time.perf_counter()
        try:
            with contextlib.redirect_stdout(buf), _root_span(tracer, self.span_name):
                getattr(cli, self.command)(spark, args)
        except Exception:  # the job failed as a whole; count it and go on
            traceback.print_exc()
            failed = 1
        seconds, cpu_s = time.perf_counter() - t0, tree_cpu_s(jit=False) - c0
        out = buf.getvalue()
        ok, error = _ints(r"progress: ok=(\d+) error=(\d+) \(final\)", out)
        errors = self.check(i, out, ok, error)
        _report(errors)
        self.lake.reset(i)
        lake = self.lake
        return Job(
            seconds=seconds,
            cpu_s=cpu_s,
            units=ok,
            bytes=0 if errors else sum(len(lake.files[r]) for r in lake.ops),
            attempted=len(lake.ops),
            failed=min(len(lake.ops), failed + error + len(errors)),
        )


def _root_span(tracer, name):
    return tracer.span(name) if tracer is not None else contextlib.nullcontext()


def _ints(pattern: str, text: str) -> tuple[int, int]:
    """The two integers ``pattern`` captures in the command's output, or
    (-1, -1) when the line is missing (which no check accepts)."""
    m = re.search(pattern, text)
    return (int(m[1]), int(m[2])) if m else (-1, -1)


class ArchiveSmallFiles(FileWorkload):
    command = "cmd_archive"
    span_name = "cli.cmd_archive"

    def prepare(self) -> None:
        self.lake = make_archive_lake(os.path.join(self.work, "archive"), self.seed)

    def args(self, i: int) -> argparse.Namespace:
        lake = self.lake
        return argparse.Namespace(
            manifest=lake.manifest,
            source=lake.source,
            target=lake.target(i),
            execute=True,
            sample=10,
        )

    def check(self, i, out, ok, error) -> list[str]:
        found, not_found = _ints(r"found: (\d+)  not_found: (\d+)", out)
        return self.lake.check(i, found, not_found, ok, error)


class FilterMoveJson(FileWorkload):
    command = "cmd_move"
    span_name = "cli.cmd_move"

    def prepare(self) -> None:
        self.lake = make_json_lake(os.path.join(self.work, "json"), self.seed)

    def args(self, i: int) -> argparse.Namespace:
        lake = self.lake
        return argparse.Namespace(
            source=lake.source,
            target=lake.target(i),
            after=lake.after,
            before=lake.before,
            json_key=JSON_KEY,
            json_value=JSON_VALUE,
            execute=True,
            sample=10,
        )

    def check(self, i, out, ok, error) -> list[str]:
        to_move, skipped = _ints(r"to_move: (\d+)  skipped: (\d+)", out)
        return self.lake.check(i, to_move, skipped, ok, error)


class LakeQueries:
    name = "lake_queries"
    span_name = "lake_queries.pass"
    #: none: the oracle check after set-up runs every query of the mix once
    #: more, after which a pass takes 3-12% more CPU time than later ones;
    #: a warm-up pass as well would not fit a run into about a minute
    warmup_jobs = 0

    def __init__(self, work: str, seed: int) -> None:
        self.work, self.seed = work, seed
        self.order = list(MIX)
        random.Random(f"mix-{seed}").shuffle(self.order)

    def prepare(self) -> None:
        self.sf_dir = write_tables(os.path.join(self.work, "tables"))
        # a pass's byte figure is the size of the tables it covers, not the
        # bytes its scans read, so that reading less never counts against it
        self.table_bytes = sum(
            os.path.getsize(os.path.join(self.sf_dir, f)) for f in os.listdir(self.sf_dir)
        )

    def verify(self, spark) -> Job:
        """Run every query of the mix against its DuckDB oracle (untimed)."""
        from py_datalake_move_files_spark.functions.parity import compare_query, duck_connection

        con = duck_connection(self.sf_dir)
        job = Job()
        for name in self.order:
            job.attempted += 1
            try:
                v = compare_query(spark, con, name, self.sf_dir)
            except Exception:
                traceback.print_exc()
                job.failed += 1
                continue
            if not (v["rows_match"] and v["schema_match"] and v["values_match"]):
                _report([f"{name} differs from its oracle: {v}"])
                job.failed += 1
        con.close()
        return job

    def run_job(self, spark, i: int, tracer=None) -> Job:
        from py_datalake_move_files_spark.queries import QUERIES

        job = Job()
        cpu0, t0 = tree_cpu_s(jit=False), time.perf_counter()
        with _root_span(tracer, self.span_name):
            for name in self.order:
                job.attempted += 1
                try:
                    with _root_span(tracer, f"queries.{name}"):
                        materialize(QUERIES[name](spark, self.sf_dir))
                except Exception:
                    traceback.print_exc()
                    job.failed += 1
        job.seconds, job.cpu_s = time.perf_counter() - t0, tree_cpu_s(jit=False) - cpu0
        job.units = job.attempted - job.failed
        job.bytes = self.table_bytes
        return job


class FileMovers:
    """One job runs both pipelines: an archive, then a filter-move."""

    name = "file_movers"
    span_name = "file_movers.job"
    #: untimed jobs after set-up: the job timed straight after the first
    #: one takes about a tenth more CPU time than later ones
    warmup_jobs = 1

    def __init__(self, work: str, seed: int) -> None:
        self.parts = (ArchiveSmallFiles(work, seed), FilterMoveJson(work, seed))

    def prepare(self) -> None:
        for part in self.parts:
            part.prepare()

    def verify(self, spark) -> Job:
        """Nothing to check once per run: every job is checked as it runs."""
        return Job()

    def run_job(self, spark, i: int, tracer=None) -> Job:
        job = Job()
        with _root_span(tracer, self.span_name):
            for part in self.parts:
                one = part.run_job(spark, i, tracer)
                job.seconds += one.seconds
                job.cpu_s += one.cpu_s
                job.units += one.units
                job.bytes += one.bytes
                job.attempted += one.attempted
                job.failed += one.failed
        return job


WORKLOADS = {w.name: w for w in (FileMovers, LakeQueries)}


# -- traced run: wrappers and per-layer metrics ------------------------------


def install_tracing(tracer, workload) -> None:
    """Wrap the program's public functions that ``workload`` reaches."""
    from pyspark.sql import functions as F

    import py_datalake_move_files_spark.catalog as catalog
    import py_datalake_move_files_spark.operators.manifest as manifest
    import py_datalake_move_files_spark.operators.predicates as predicates
    import py_datalake_move_files_spark.plans.movecopy as movecopy
    import py_datalake_move_files_spark.sources.files as files

    st = tracer.state

    if isinstance(workload, LakeQueries):
        tracer.patch(catalog, "load_table", tracer.lazy("catalog.load_table"))
        return

    def count_rows(rec, df):
        rec["rows"] = df.count()

    tracer.patch(catalog, "read_manifest_csv", tracer.lazy("catalog.read_manifest_csv", count_rows))
    tracer.patch(files, "list_files", tracer.lazy("sources.list_files", count_rows))
    tracer.patch(manifest, "build_archive_plan", tracer.lazy("operators.build_archive_plan"))

    def probe_wrapper(orig):
        def wrapper(*a, **kw):
            st["probe"] = orig(*a, **kw)
            return st["probe"]

        return wrapper

    tracer.patch(predicates, "json_key_probe_fast", probe_wrapper)

    def decoded_wrapper(orig):
        def wrapper(df, *a, **kw):
            with tracer.span("sources.content_scan") as scan:
                out = orig(df, *a, **kw)
                materialize(out)
            with tracer.span("trace.aux"):
                scan["selected_bytes"] = out.agg(F.sum("length")).first()[0] or 0
            probe = st.get("probe")
            if probe is not None:
                with tracer.span("operators.filter_probe") as rec:
                    row = out.select(probe.alias("p")).agg(
                        F.count("*"), F.sum(F.col("p").cast("int"))
                    ).first()
                rec["examined"], rec["passed"] = row[0], row[1] or 0
            return out

        return wrapper

    tracer.patch(files, "with_decoded_text", decoded_wrapper)

    def execute_wrapper(orig):
        def wrapper(*a, **kw):
            with tracer.span("plans.execute_plan") as rec:
                audit = orig(*a, **kw)
            with tracer.span("trace.aux"):
                rec["tasks"] = last_job_tasks(tracer.spark)
                rows = audit.select("target_path", "status").collect()
                rec["attempted"] = len(rows)
                rec["failed"] = sum(r.status == "error" for r in rows)
                rec["bytes"] = sum(
                    os.path.getsize(r.target_path[len("file:"):])
                    for r in rows
                    if r.status == "ok"
                )
            return audit

        return wrapper

    tracer.patch(movecopy, "execute_plan", execute_wrapper)
    tracer.patch(movecopy, "audit_summary", tracer.lazy("plans.audit_summary"))


def _sum(tracer, job: str, name: str, value) -> float:
    return sum(value(s) for s in tracer.find(job, name))


def layer_metrics(tracer, workload, job: str) -> dict[str, float]:
    """Per-layer values of one traced job (layers it does not reach read 0)."""
    d = tracer.duration
    root = tracer.find(job, workload.span_name)[0]
    m = {"session.gc_s": root["delta"]["gc_ms"] / 1e3}

    if isinstance(workload, LakeQueries):
        qs = [s for s in tracer.spans if s["job"] == job and s["name"].startswith("queries.")]
        times = {s["name"]: tracer.self_time(s) for s in qs}
        m.update({f"{k}_s": v for k, v in times.items()})
        m["queries.query_s_p50"] = _median(list(times.values()))
        m["queries.tasks"] = sum(tracer.self_delta(s, "tasks") for s in qs)
        m["queries.shuffle_read_mb"] = sum(tracer.self_delta(s, "shuffle_read") for s in qs) / MB
        m["queries.shuffle_write_mb"] = sum(tracer.self_delta(s, "shuffle_write") for s in qs) / MB
        m["catalog.load_table_s"] = _sum(tracer, job, "catalog.load_table", d)
        return m

    def total(name, value=d):
        return _sum(tracer, job, name, value)

    m["catalog.read_manifest_csv_s"] = total("catalog.read_manifest_csv")
    m["catalog.manifest_rows"] = total("catalog.read_manifest_csv", lambda s: s["rows"])
    listings = tracer.find(job, "sources.list_files")
    m["sources.list_files_s"] = total("sources.list_files")
    m["sources.files_listed"] = total("sources.list_files", lambda s: s["rows"])
    m["sources.scan_tasks"] = _median([s["delta"]["tasks"] for s in listings])

    read = total("sources.content_scan", lambda s: s["delta"]["input_bytes"])
    selected = total("sources.content_scan", lambda s: s["selected_bytes"])
    m["sources.content_scan_s"] = total("sources.content_scan")
    m["sources.input_mb"] = read / MB
    m["sources.bytes_read_per_byte_selected"] = read / selected if selected else 0.0
    # the probe span re-runs the content scan: its self time excludes it
    m["operators.filter_probe_s"] = total("operators.filter_probe") - m["sources.content_scan_s"]
    passed = total("operators.filter_probe", lambda s: s["passed"])
    examined = total("operators.filter_probe", lambda s: s["examined"])
    m["operators.rows_examined_per_result"] = examined / passed if passed else 0.0

    for cmd in tracer.find(job, "cli.cmd_archive"):
        # running the plan re-runs its inputs' scans (not their listing or
        # header check, done when the inputs were built): exclude the scans
        inputs = [
            s for s in tracer.spans
            if s["parent"] == cmd["id"]
            and s["name"] in ("sources.list_files", "catalog.read_manifest_csv")
        ]
        plans = [
            s for s in tracer.spans
            if s["parent"] == cmd["id"] and s["name"] == "operators.build_archive_plan"
        ]
        m["operators.build_archive_plan_s"] = sum(map(d, plans)) - sum(s["run_s"] for s in inputs)
        m["operators.archive_shuffle_mb"] = sum(s["delta"]["shuffle_write"] for s in plans) / MB

    tasks = total("plans.execute_plan", lambda s: s["tasks"])
    attempted = total("plans.execute_plan", lambda s: s["attempted"])
    m["plans.execute_plan_s"] = total("plans.execute_plan")
    m["plans.execute_tasks"] = tasks
    m["plans.files_per_task"] = attempted / tasks if tasks else 0.0
    m["plans.mb_copied"] = total("plans.execute_plan", lambda s: s["bytes"]) / MB
    m["plans.ops_attempted"] = attempted
    m["plans.ops_failed"] = total("plans.execute_plan", lambda s: s["failed"])
    m["plans.audit_summary_s"] = total("plans.audit_summary")
    m["cli.cmd_archive_s"] = total("cli.cmd_archive", tracer.self_time)
    m["cli.cmd_move_s"] = total("cli.cmd_move", tracer.self_time)
    return m
