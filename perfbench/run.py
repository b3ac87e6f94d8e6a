#!/usr/bin/env python3
"""Benchmark for adtl_spark.  Runs one workload in one process, checks
every output, and prints one JSON result line last on standard output.

    python3 perfbench/run.py --workload study --seed 1 --seconds 15 --trace 0

Run it from the repository root.  ``--trace 0`` prints the end-to-end
metrics; ``--trace 1`` prints the per-layer metrics.  The exit code is 0
only when every output was correct.  Workloads and metrics are described
in perfbench/README.md.
"""

from __future__ import annotations

import argparse
import gc
import importlib.util
import json
import os
import resource
import shlex
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
from pathlib import Path

import gen

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".perfbench_work"

SETUPS = 2  # cold session starts per run, each in a new JVM; setup_s is their median

# study workload: one four-table study, about three visits per subject
STUDY_SUBJECTS = 500

# registry workload: the queries and the size of their input tables
REGISTRY_QUERIES = (
    "dedup_cluster",
    "graph_pagerank",
    "olap_basket_lift",
    "corpus_kn_bigram",
    "multimodal_mp2_decode",
    "multimodal_flac_roundtrip",
)
# the registry tables' size as a share of sf0.1 (see gen.registry_tables)
REGISTRY_SCALE = 0.04

LAYER_METRICS = (
    ("self_s", "s"),
    ("jobs", "count"),
    ("tasks", "count"),
    ("shuffle_write_bytes", "B"),
    ("executor_cpu_s", "s"),
)
STUDY_SPANS = (
    ("spec.compile", "CompiledSpec"),
    ("io.read", "read_source"),
    ("plans.build", "build_all_tables"),
    ("validate.annotate", "annotate_validation"),
    ("validate.report", "validation_report"),
    ("io.write", "write_parquet"),
)
STUDY_SPAN_NAMES = ("api.study", *(name for name, _ in STUDY_SPANS))
REGISTRY_SPAN_NAMES = tuple(
    f"{q}.{step}" for q in REGISTRY_QUERIES for step in ("construct", "execute")
)


def _prepare_environment(work: Path) -> None:
    """Keep every file Spark, the JVM and Python write under ``work``.
    Must run before pyspark starts the JVM."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    # Python workers import adtl_spark from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p
    )
    # every JVM, the launcher included: temp files under ``work`` and no
    # perf-data file, which the JVM would write to /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [
            "--conf spark.ui.showConsoleProgress=false",
            "--conf",
            shlex.quote(f"spark.sql.warehouse.dir={work / 'warehouse'}"),
            "pyspark-shell",
        ]
    )


# ------------------------------------------------------------------ workloads


class StudyWorkload:
    """One synthetic clinical study through the user path:
    ``Parser(spec).parse(csv)`` -> ``build_report()`` ->
    ``save(format="parquet")``, with a fresh Parser every pass."""

    ops_per_pass = 1
    span_names = STUDY_SPAN_NAMES
    # warm passes at least: passes of one run differ by up to a third, as
    # the JVM still compiles the driver's query planning after the cold
    # pass; a third pass would not fit the run budget
    warm_passes = 2

    def __init__(self, seed: int, work: Path) -> None:
        self.seed = seed
        self.input = work / "study"
        self.out = work / "out"
        self.study = None
        self.report: dict = {}

    def generate(self) -> None:
        self.study = gen.clinical_study(self.seed, STUDY_SUBJECTS, self.input)

    def run_pass(self, spark, tracer, cold: bool) -> None:
        from adtl_spark.api import Parser

        self.out.mkdir(parents=True, exist_ok=True)
        with tracer.span("api.study"):
            parser = Parser(str(self.study.spec_path), spark=spark)
            parser.parse(str(self.study.csv_path))
            self.report = parser.build_report()
            parser.save(str(self.out / "study"), format="parquet")

    def check(self) -> list[str]:
        """Compare the report and the written rows with the generator's
        truth; returns the mismatches."""
        import pyarrow.parquet as pq

        errors = []
        for table, total in self.study.rows.items():
            files = sorted((self.out / f"study-{table}.parquet").glob("*.parquet"))
            written = sum(pq.read_metadata(f).num_rows for f in files)
            if written != total:
                errors.append(f"{table}: wrote {written} rows, expected {total}")
        for table, valid in self.study.valid.items():
            total = self.report["total"].get(table)
            got = self.report["total_valid"].get(table)
            if total != self.study.rows[table] or got != valid:
                errors.append(
                    f"{table}: report {got}/{total} valid, expected "
                    f"{valid}/{self.study.rows[table]}"
                )
        if set(self.report["total"]) != set(self.study.valid):
            errors.append(f"report covers {sorted(self.report['total'])}")
        return errors

    def cleanup(self) -> None:
        shutil.rmtree(self.out, ignore_errors=True)


class RegistryWorkload:
    """Six operator-registry queries over generated tables, each built
    through ``queries.all_queries()`` and executed into the noop sink.  The
    cold pass collects every result instead and checks it against the
    query's DuckDB twin from ``queries.oracles()``."""

    ops_per_pass = len(REGISTRY_QUERIES)
    span_names = REGISTRY_SPAN_NAMES
    warm_passes = 1  # its passes are longer; a second would not fit the run budget

    def __init__(self, seed: int, work: Path) -> None:
        self.seed = seed
        self.data = work / "registry"
        self.results: dict = {}

    def generate(self) -> None:
        gen.registry_tables(self.seed, self.data, REGISTRY_SCALE)

    def run_pass(self, spark, tracer, cold: bool) -> None:
        from adtl_spark import queries

        registry = queries.all_queries()
        self.results = {}
        for name in REGISTRY_QUERIES:
            with tracer.span(f"{name}.construct"):
                df = registry[name](spark, str(self.data))
            with tracer.span(f"{name}.execute"):
                if cold:
                    self.results[name] = df.toPandas()
                else:
                    df.write.format("noop").mode("overwrite").save()

    def check(self) -> list[str]:
        """Compare the collected results with DuckDB; only the cold pass
        collects, so later passes have nothing to check."""
        if not self.results:
            return []
        import duckdb

        from adtl_spark import queries

        oracles = queries.oracles()
        compare = _oracle_compare()
        con = duckdb.connect()
        try:
            for table in ("documents", "lineitem", "supplier"):
                path = self.data / f"{table}.parquet"
                con.execute(f"CREATE VIEW {table} AS SELECT * FROM '{path}'")
            errors = []
            for name, got in self.results.items():
                want = con.execute(oracles[name]).df()
                problem = compare(got, want)
                if problem:
                    errors.append(f"{name}: {problem}")
            return errors
        finally:
            con.close()
            self.results = {}

    def cleanup(self) -> None:
        pass


WORKLOADS = {"study": StudyWorkload, "registry_ops": RegistryWorkload}


def _oracle_compare():
    """The repository's own result check, ``compare`` from
    tools/check_oracle.py: row count, column names, integer-vs-widened
    dtype, then order-insensitive values."""
    spec = importlib.util.spec_from_file_location(
        "check_oracle", ROOT / "tools" / "check_oracle.py"
    )
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module.compare


# ------------------------------------------------------------------- the run


def _between_passes(spark, workload) -> None:
    """Outside the timer: drop outputs, cached data and blocks a previous
    pass left behind, and collect garbage in the JVM and in Python."""
    workload.cleanup()
    spark.catalog.clearCache()
    for rdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
        rdd.unpersist(True)
    spark.sparkContext._jvm.System.gc()
    gc.collect()


def _jvm_pid() -> int | None:
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def _peak_rss_mb(jvm_pid: int | None) -> float:
    """Peak resident memory of this process plus the JVM it started."""
    kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    if jvm_pid is not None:
        for line in Path(f"/proc/{jvm_pid}/status").read_text().splitlines():
            if line.startswith("VmHWM:"):
                kb += int(line.split()[1])
    return kb / 1024


def _stop_spark(spark) -> None:
    """Stop the session and the JVM, and wait until the JVM has exited."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _install_spans(tracer) -> None:
    """Route the api module's calls into each layer through spans."""
    import adtl_spark.api as api

    for span_name, attr in STUDY_SPANS:
        setattr(api, attr, tracer.wrap(span_name, getattr(api, attr)))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    sys.path.insert(0, str(ROOT))
    try:
        from adtl_spark.session import get_spark
    except ImportError as e:
        print(f"perfbench: cannot import the program: {e}", file=sys.stderr)
        return 2
    work = WORK / f"{args.workload}-{args.seed}-{os.getpid()}"
    _prepare_environment(work)
    from spans import Tracer, per_span_name

    cpus = len(os.sched_getaffinity(0))
    workload = WORKLOADS[args.workload](args.seed, work)
    workload.generate()

    # set-up, several times: launch the JVM and start the session.  Every
    # set-up but the last stops the JVM again, outside the timer, so each
    # one pays the cold start a user pays.  The first job's own start-up
    # cost falls into the cold pass.
    setup_s = []
    for i in range(SETUPS):
        t0 = time.perf_counter()
        spark = get_spark("perfbench", cpus=cpus)
        setup_s.append(time.perf_counter() - t0)
        if i < SETUPS - 1:
            _stop_spark(spark)
    jvm_pid = _jvm_pid()

    tracer = Tracer(spark.sparkContext)
    if args.trace:
        _install_spans(tracer)

    attempted = failed = 0
    errors: list[str] = []
    traced_passes: list[dict] = []  # per-span sums, one dict per traced pass

    def one_pass(cold: bool, traced: bool) -> float | None:
        nonlocal attempted, failed
        _between_passes(spark, workload)
        tracer.enabled = traced
        first_span = len(tracer.spans)
        attempted += workload.ops_per_pass
        t0 = time.perf_counter()
        try:
            workload.run_pass(spark, tracer, cold)
            elapsed = time.perf_counter() - t0
        except Exception as e:  # a failing pass is counted, not fatal
            failed += workload.ops_per_pass
            errors.append(f"pass raised {type(e).__name__}: {e}")
            return None
        finally:
            tracer.enabled = False
        problems = workload.check()
        if problems:
            failed += min(len(problems), workload.ops_per_pass)
            errors.extend(problems)
        if traced:
            tracer.read_counters(tracer.spans[first_span:])
            sums = per_span_name(tracer.spans[first_span:])
            missing = [n for n in workload.span_names if n not in sums]
            if missing:
                # a layer call that no longer goes through its wrapper
                failed += workload.ops_per_pass
                errors.append(f"traced pass recorded no span {', '.join(missing)}")
            traced_passes.append(sums)
        return elapsed

    first_pass_s = one_pass(cold=True, traced=False)
    warm: list[float] = []
    warm_traced: list[float] = []
    t_start = time.perf_counter()
    n = 0
    # a traced run needs an untraced and a traced pass at least
    min_passes = max(workload.warm_passes, 2 if args.trace else 1)
    while n < min_passes or time.perf_counter() - t_start < args.seconds:
        # a traced run alternates untraced and traced passes; the untraced
        # ones give the overhead baseline
        traced = bool(args.trace) and n % 2 == 1
        elapsed = one_pass(cold=False, traced=traced)
        if elapsed is not None:
            (warm_traced if traced else warm).append(elapsed)
        n += 1
    peak_rss_mb = _peak_rss_mb(jvm_pid)
    _between_passes(spark, workload)
    if args.trace:
        tracer.dump(WORK / f"spans-{args.workload}-{args.seed}.json")
    _stop_spark(spark)

    for e in errors:
        print(f"perfbench: {e}", file=sys.stderr)
    correct = not errors and bool(warm) and first_pass_s is not None
    if args.trace:
        metrics = {"session.first_pass_s": {"value": first_pass_s, "unit": "s"}}
        metrics["session.peak_rss_mb"] = {"value": peak_rss_mb, "unit": "MB"}
        if warm and warm_traced:
            base = statistics.median(warm)
            metrics["trace.overhead_pct"] = {
                "value": (statistics.median(warm_traced) - base) / base * 100,
                "unit": "%",
            }
        for name in STUDY_SPAN_NAMES + REGISTRY_SPAN_NAMES:
            # every per-layer metric is printed; the spans of the other
            # workload are never run here and read 0.  A span of this
            # workload is in every traced pass, or the run failed above.
            per_pass = [p.get(name, {}) for p in traced_passes] or [{}]
            for key, unit in LAYER_METRICS:
                values = [p.get(key, 0) for p in per_pass]
                # counts stay whole numbers
                pick = statistics.median_low if unit == "count" else statistics.median
                metrics[f"{name}.{key}"] = {"value": pick(values), "unit": unit}
    else:
        metrics = {
            "setup_s": {"value": statistics.median(setup_s), "unit": "s"},
            "run_s": {"value": statistics.median(warm) if warm else None, "unit": "s"},
        }
    print(
        f"perfbench: {args.workload} seed={args.seed} setup={setup_s} "
        f"first={first_pass_s} warm={warm} traced={warm_traced}",
        file=sys.stderr,
    )
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}))
    shutil.rmtree(work, ignore_errors=True)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
