#!/usr/bin/env python3
"""Run one benchmark workload in a fresh process and print its metrics.

    python3 perfbench/run.py --workload session_warm --seed 1 --seconds 10 --trace 0

One client runs a closed loop (each operation starts when the previous one
finished) against ``local[k]`` Spark, k = min(4, cores), driver heap pinned
to 4g. A run sets up (imports, ``session.get_spark``, and for cached
workloads the base-table cache), runs one cold pass over the workload's
operations, then warm passes until ``--seconds`` have elapsed (at least
three). Outputs are checked after the last pass, outside every timed
region.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` traces every
pass and prints the per-layer metrics, among them the traced run's own warm
pass. The tracing overhead is that figure minus ``warm_pass_s`` of the
untraced runs.
The last stdout line is one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``. Works from any directory; it
reads and writes only inside the repository checkout.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shlex
import shutil
import subprocess
import sys
import tempfile
import time
from dataclasses import dataclass, field

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import counters, stats  # noqa: E402
from perfbench.checks import canon_frame, counts_digest, digest, expected_results  # noqa: E402
from perfbench.workloads import ETL, PIPELINES, TEXT, WORKLOADS, pass_order  # noqa: E402

PACKAGE = "data_pipeline_etl_spark"
FIXTURES = os.path.join(HERE, "fixtures", "sf0.1")
CORES = min(4, os.cpu_count() or 1)
HEAP = "4g"
# each operation's warm figure is its median over the warm passes; with
# three, one slow pass (a stall, a burst of host steal) is outvoted
MIN_WARM_PASSES = 3
MB = 1024.0 * 1024.0

pc = time.perf_counter


@dataclass
class Exec:
    """One execution of one operation."""

    op: str
    call_s: float = 0.0
    plan_s: float = 0.0
    exec_s: float = 0.0
    error: str | None = None
    same: bool = False  # result equal to the operation's reference result
    builds: tuple[str, ...] = ()
    counts: dict[str, int] | None = None
    left_bytes: int = 0  # bytes of RDDs the operation left persisted
    files: int = 0
    bytes_written: int = 0

    @property
    def total_s(self) -> float:
        return self.call_s + self.plan_s + self.exec_s


@dataclass
class Pass:
    execs: list[Exec]
    stream: dict[str, int] = field(default_factory=dict)
    checkpoint_bytes: int = 0


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def prepare_environment(work: str) -> None:
    """Confine every file the run writes to ``work`` and let Spark's Python
    workers import the package from any working directory."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    # no JVM may write its perf-data file to the system /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    os.environ["SPARK_DRIVER_MEMORY"] = HEAP
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [
            "--driver-java-options",
            # a fixed-size heap keeps the JVM's resident memory from
            # depending on when the collector chose to grow the heap
            shlex.quote(f"-Xms{HEAP} -XX:-UsePerfData -Djava.io.tmpdir={tmp}"),
            "--conf spark.ui.showConsoleProgress=false",
            "pyspark-shell",
        ]
    )
    os.chdir(work)


def stop_spark(spark) -> None:
    """Stop the session and wait until the driver JVM has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def parquet_output(path: str) -> tuple[int, int]:
    files = size = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(dirpath, n))
    return files, size


class Runner:
    """Runs operations against one session and keeps each operation's
    reference result (its first successful output)."""

    def __init__(self, spark, jvm: counters.Jvm, out_dir: str):
        from data_pipeline_etl_spark.operators.materialized import BUILD_SECONDS
        from data_pipeline_etl_spark.plans.pipeline import run_etl, run_text_pipeline
        from data_pipeline_etl_spark.registry import QUERIES

        self.spark = spark
        self.sc = spark.sparkContext
        self.jvm = jvm
        self.queries = QUERIES
        self.pipelines = {ETL: run_etl, TEXT: run_text_pipeline}
        self.ledger = BUILD_SECONDS
        self.out_dir = out_dir
        self.reference: dict[str, str] = {}

    def run(self, op: str, pass_no: int, traced: bool) -> Exec:
        e = Exec(op)
        group = f"perfbench:{pass_no}:{op}"
        if traced:
            self.sc.setJobGroup(group, op)
            persisted = set(self.jvm.storage_bytes())
        before = set(self.ledger)
        t0 = pc()
        try:
            if op in PIPELINES:
                out = os.path.join(self.out_dir, op)
                counts = self.pipelines[op](self.spark, FIXTURES, out)
                e.call_s = pc() - t0
                result = counts_digest(counts)
                e.files, e.bytes_written = parquet_output(out)
            else:
                df = self.queries[op](self.spark, FIXTURES)
                e.call_s = pc() - t0
                if traced:
                    df._jdf.queryExecution().executedPlan()
                    e.plan_s = pc() - t0 - e.call_s
                pdf = df.toPandas()
                e.exec_s = pc() - t0 - e.call_s - e.plan_s
                result = digest(canon_frame(pdf))
        except Exception as exc:  # noqa: BLE001 - a failing operation is counted, not fatal
            e.exec_s = pc() - t0 - e.call_s - e.plan_s
            e.error = f"{type(exc).__name__}: {exc}".strip().splitlines()[0][:300]
        else:
            e.same = self.reference.setdefault(op, result) == result
        e.builds = tuple(sorted(set(self.ledger) - before))
        if traced:
            e.counts = counters.job_counts(self.sc, group)
            e.left_bytes = sum(
                b for rid, b in self.jvm.storage_bytes().items() if rid not in persisted
            )
        return e


def oracle_checks(ops) -> dict[str, str]:
    """Operation -> oracle SQL, or the pipeline's name for the pipelines."""
    from data_pipeline_etl_spark.registry import ORACLES

    checks = {op: op for op in ops if op in PIPELINES}
    checks.update({op: ORACLES[op] for op in ops if op in ORACLES})
    return checks


def judge(passes: list[Pass], runner: Runner, expected: dict[str, str]) -> dict[str, str]:
    """Reason each failing operation failed; an execution is good only if it
    ran, equals the operation's reference result, and the reference equals
    the expected output where one exists."""
    bad_ref = {op for op, ref in runner.reference.items() if expected.get(op, ref) != ref}
    reasons: dict[str, str] = {}
    for p in passes:
        for e in p.execs:
            if e.error:
                reasons.setdefault(e.op, e.error)
            elif e.op in bad_ref:
                reasons.setdefault(e.op, "output differs from DuckDB")
            elif not e.same:
                reasons.setdefault(e.op, "output differs from its first run")
            else:
                continue
            e.same = False
    return reasons


def code_digest() -> str:
    """Identifies the package sources where no git commit is available."""
    h = hashlib.sha256()
    for dirpath, dirs, names in os.walk(os.path.join(ROOT, PACKAGE)):
        dirs.sort()
        for n in sorted(names):
            if n.endswith(".py"):
                path = os.path.join(dirpath, n)
                h.update(os.path.relpath(path, ROOT).encode())
                with open(path, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()[:16]


def git_commit() -> str | None:
    """HEAD of the checkout, or None where it is not a git repository."""
    try:
        r = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "--show-toplevel", "HEAD"],
            capture_output=True,
            text=True,
            timeout=10,
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    lines = r.stdout.split()
    if r.returncode != 0 or len(lines) != 2 or os.path.realpath(lines[0]) != os.path.realpath(ROOT):
        return None
    return lines[1]


def by_op(execs, value=lambda e: e.total_s) -> dict[str, list[float]]:
    out: dict[str, list[float]] = {}
    for e in execs:
        out.setdefault(e.op, []).append(value(e))
    return out


def median_or_zero(values) -> float:
    return stats.median(values) if values else 0.0


def end_to_end(setup_s, passes, peak_mb) -> dict[str, tuple[float, str]]:
    warm = [e for p in passes[1:] for e in p.execs]
    samples = [e.total_s for e in warm]
    return {
        "setup_s": (setup_s, "s"),
        "cold_pass_s": (sum(e.total_s for e in passes[0].execs), "s"),
        "warm_pass_s": (stats.sum_of_medians(by_op(warm)), "s"),
        "op_p50_s": (stats.percentile(samples, 0.5), "s"),
        "op_p90_s": (stats.percentile(samples, 0.9), "s"),
        "peak_rss_mb": (peak_mb, "MB"),
    }


def per_layer(ctx: dict, passes: list[Pass], modules: dict[str, str], fail_frac: float):
    cold, warm = passes[0], passes[1:]
    warm_execs = [e for p in warm for e in p.execs]
    queries = [e for e in warm_execs if e.op not in PIPELINES]
    totals = by_op(warm_execs)

    def warm_count(key: str) -> float:
        """Count in one warm pass: per operation, the median over its runs."""
        return stats.sum_of_medians(by_op(warm_execs, lambda e: e.counts[key]))

    def stream(key: str) -> float:
        return median_or_zero([p.stream[key] for p in warm])

    def per_pass(attr: str) -> float:
        return median_or_zero([sum(getattr(e, attr) for e in p.execs) for p in warm])

    stages = warm_count("stages")
    builders = [e for p in passes for e in p.execs if e.builds]
    run_wall = ctx["t_end"] - ctx["t_session"]
    jvm_cpu = ctx["jvm_cpu_s"]
    m: dict[str, tuple[float, str]] = {
        "session.import_s": (ctx["import_s"], "s"),
        "session.start_s": (ctx["start_s"], "s"),
        "sources.tables.cache_s": (ctx["cache_s"], "s"),
        "sources.tables.cached_mb": (ctx["cached_bytes"] / MB, "MB"),
        "operators.call_s": (stats.sum_of_medians(by_op(queries, lambda e: e.call_s)), "s"),
        "operators.plan_s": (stats.sum_of_medians(by_op(queries, lambda e: e.plan_s)), "s"),
        "operators.exec_s": (stats.sum_of_medians(by_op(queries, lambda e: e.exec_s)), "s"),
        "operators.warm_samples": (float(len(warm_execs)), "count"),
        "operators.cold_jobs": (float(sum(e.counts["jobs"] for e in cold.execs)), "count"),
        "operators.jobs": (warm_count("jobs"), "count"),
        "operators.stages": (stages, "count"),
        "operators.tasks": (warm_count("tasks"), "count"),
        "operators.single_task_stage_frac": (
            warm_count("single") / stages if stages else 0.0,
            "ratio",
        ),
        "operators.failed_tasks": (warm_count("failed_tasks"), "count"),
        "materialized.builds": (float(sum(len(e.builds) for e in builders)), "count"),
        "materialized.first_touch_s": (float(sum(e.call_s for e in builders)), "s"),
        "checkpoints.held_mb": (passes[-1].checkpoint_bytes / MB, "MB"),
        "checkpoints.growth_mb_per_pass": (per_pass("left_bytes") / MB, "MB"),
        "streaming.micro_batches": (stream("batches"), "count"),
        "streaming.input_rows": (stream("rows"), "count"),
        "streaming.add_batch_s": (stream("addBatch") / 1000.0, "s"),
        "streaming.planning_s": (stream("queryPlanning") / 1000.0, "s"),
        "streaming.commit_s": (stream("commit") / 1000.0, "s"),
        "pipeline.run_etl_s": (median_or_zero(totals.get(ETL, [])), "s"),
        "pipeline.run_text_s": (median_or_zero(totals.get(TEXT, [])), "s"),
        "sinks.files_written": (per_pass("files"), "count"),
        "sinks.mb_written": (per_pass("bytes_written") / MB, "MB"),
        "jvm.cpu_s": (jvm_cpu, "s"),
        "jvm.gc_s": (ctx["gc_s"], "s"),
        "jvm.core_util": (jvm_cpu / (run_wall * CORES), "ratio"),
        "python.cpu_s": (ctx["python_cpu_s"], "s"),
        "host.steal_s": (ctx["steal_s"], "s"),
        "fail_frac": (fail_frac, "ratio"),
        "trace.warm_pass_s": (stats.sum_of_medians(totals), "s"),
    }
    for mod in sorted(set(modules.values())):
        ops = [op for op, m_ in modules.items() if m_ == mod and op in totals]
        m[f"operators.{mod}.warm_s"] = (float(sum(stats.median(totals[op]) for op in ops)), "s")
    return m


def module_of(op: str) -> str:
    from data_pipeline_etl_spark.registry import QUERY_MODULES

    return "pipeline" if op in PIPELINES else QUERY_MODULES[op].rsplit(".", 1)[-1]


def all_modules() -> dict[str, str]:
    """Query -> module for every workload, so each run prints one metric set."""
    return {op: module_of(op) for w in WORKLOADS.values() for op in w.ops if op not in PIPELINES}


def main(argv=None) -> int:
    age_at_start = counters.process_age_s()
    t_start = pc()
    args = parse_args(argv)
    workload = WORKLOADS[args.workload]
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: no {PACKAGE} package beside {HERE}", file=sys.stderr)
        return 2
    steal0 = counters.host_steal_s()
    load_at_start = counters.load1()
    work = os.path.join(HERE, ".work", f"run-{os.getpid()}")
    prepare_environment(work)
    spark = None
    try:
        from data_pipeline_etl_spark.registry import load_all_operators
        from data_pipeline_etl_spark.session import get_spark
        from data_pipeline_etl_spark.sources.tables import load_all

        load_all_operators()
        t_imported = pc()
        spark = get_spark("perfbench")
        spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
        spark.sparkContext.setLogLevel("ERROR")
        t_session = pc()
        if workload.cache_tables:
            for df in load_all(spark, FIXTURES).values():
                df.cache().count()
        t_ready = pc()
        setup_s = age_at_start + (t_ready - t_start)

        jvm = counters.Jvm(spark)
        base_rdds = jvm.storage_bytes()
        listener = counters.streaming_listener(spark) if args.trace else None
        runner = Runner(spark, jvm, os.path.join(work, "out"))

        def run_pass(no: int) -> Pass:
            p = Pass([])
            s0 = listener.snapshot() if listener else {}
            for op in pass_order(workload.ops, args.seed, no):
                p.execs.append(runner.run(op, no, bool(args.trace)))
            if listener:
                s1 = listener.snapshot()
                p.stream = {k: s1[k] - s0[k] for k in s1}
            if args.trace:
                p.checkpoint_bytes = sum(
                    b for rid, b in jvm.storage_bytes().items() if rid not in base_rdds
                )
            return p

        passes = [run_pass(0)]
        t_warm = pc()
        while len(passes) <= MIN_WARM_PASSES or pc() - t_warm < args.seconds:
            passes.append(run_pass(len(passes)))
        t_end = pc()
        peak_mb = counters.peak_rss_mb(jvm.pid) + counters.peak_rss_mb("self")
        ctx = {
            "import_s": t_imported - t_start,
            "start_s": t_session - t_imported,
            "cache_s": t_ready - t_session,
            "cached_bytes": sum(base_rdds.values()),
            "t_session": t_session,
            "t_end": t_end,
            "jvm_cpu_s": counters.cpu_s(jvm.pid),
            "gc_s": jvm.gc_s(),
            "python_cpu_s": time.process_time(),
            "steal_s": counters.host_steal_s() - steal0,
        }
        env = {
            "workload": workload.name,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
            "spark_cores": CORES,
            "driver_heap": HEAP,
            "git_commit": git_commit(),
            "code_digest": code_digest(),
            "load1_at_start": load_at_start,
            "host_steal_s": ctx["steal_s"],
            "jvm_gc_s": ctx["gc_s"],
            "java": jvm.version(),
            "spark": spark.version,
            "warm_passes": len(passes) - 1,
        }
        stop_spark(spark)
        spark = None

        expected = expected_results(
            oracle_checks(workload.ops), FIXTURES, os.path.join(HERE, ".work", "expected")
        )
        reasons = judge(passes, runner, expected)
    finally:
        if spark is not None:
            stop_spark(spark)
        os.chdir(HERE)
        shutil.rmtree(work, ignore_errors=True)

    execs = [e for p in passes for e in p.execs]
    attempted = len(execs)
    failed = sum(not e.same for e in execs)
    frac = stats.fail_frac(attempted, failed)
    warm_n = sum(len(p.execs) for p in passes[1:])

    print(f"# workload {workload.name}: {workload.why}")
    print(f"# {'operation':<26} {'module':<16} {'cold_s':>8} {'warm_med_s':>10} {'n':>3}  jobs  status")
    runs = by_op(execs, lambda e: e)
    for op in workload.ops:
        cold, *warm = runs[op]
        jobs = "/".join(str(e.counts["jobs"]) for e in runs[op]) if args.trace else "-"
        status = "FAIL " + reasons[op] if op in reasons else "ok"
        print(
            f"# {op:<26} {module_of(op):<16} {cold.total_s:8.3f} "
            f"{stats.median([e.total_s for e in warm]):10.3f} {len(warm):3d}  {jobs}  {status}"
            + "  [" + " ".join(f"{e.total_s:.2f}" for e in warm) + "]"
        )
    print("# pass sums (s): " + " ".join(f"{sum(e.total_s for e in p.execs):.3f}" for p in passes))
    print(
        f"# warm samples: {warm_n} (p90 needs {stats.samples_needed(0.9)}: "
        f"{'met' if stats.tail_supported(warm_n, 0.9) else 'NOT met'}); "
        f"fail_frac = {frac!r} ({failed}/{attempted})"
    )
    if args.trace:
        metrics = per_layer(ctx, passes, all_modules(), frac)
    else:
        metrics = end_to_end(setup_s, passes, peak_mb)
    for line in stats.metric_lines(metrics):
        print(line)
    print(json.dumps({"env": env}))
    print(stats.result_line(failed == 0, attempted, failed, metrics), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
