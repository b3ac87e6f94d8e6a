"""Isolated per-query profiler for optimization work (guide §1).

Usage: python tools/profile_query.py [--explain DIR] [--warm N] [--timed N] q1 q2 ...
       python tools/profile_query.py --study SUBJECTS [--seed N] [--warm N] [--timed N]

For each named registry query, in ONE fresh session per query:
  * warm it ``--warm`` times untimed (JVM codegen + Python worker pool),
  * run it ``--timed`` times against the noop sink with the timer around
    construction + materialization (bench.py methodology),
  * print per-run seconds and the min (steady state), and beside them each
    run's codegen compiles and summed compile ms (``CodegenMetrics``
    deltas), so a query that recompiles its classes shows as compile-bound,
  * with --explain DIR, save ``df.explain('formatted')`` to DIR/<q>_<tag>.txt.

``--study SUBJECTS`` profiles the spec path instead: it writes one
synthetic clinical study of that many subjects with
``perfbench/gen.py:clinical_study`` (about three source rows and 700 CSV
bytes per subject), then runs ``--warm`` untimed and ``--timed`` timed
passes of ``Parser.parse`` -> ``build_report()`` ->
``save(format="parquet")``, a fresh Parser per pass.  Each timed pass
prints, per phase, wall seconds, Spark jobs, tasks and shuffle-write
bytes, counted by ``perfbench/spans.py``'s tracer after the pass.

Timings are isolated probes — comparable to the verdict's adjudication
probes, not to in-suite bench numbers (which carry suite-context noise).
"""

from __future__ import annotations

import argparse
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from adtl_spark import queries as Q
from adtl_spark.session import get_spark


def _codegen_totals(spark) -> tuple[int, float]:
    """Classes Spark has compiled in this JVM so far, and their summed
    compile milliseconds."""
    jvm = spark._jvm
    metrics = jvm.org.apache.spark.metrics.source.CodegenMetrics
    generator = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
    return metrics.METRIC_COMPILATION_TIME().getCount(), generator.compileTime() / 1e6


def _perfbench_module(name: str):
    """``perfbench/<name>.py``, loaded read-only."""
    import importlib.util
    from pathlib import Path

    path = Path(__file__).resolve().parent.parent / "perfbench" / f"{name}.py"
    spec = importlib.util.spec_from_file_location(f"perfbench_{name}", path)
    module = importlib.util.module_from_spec(spec)
    sys.modules[spec.name] = module  # its dataclasses look their module up
    spec.loader.exec_module(module)
    return module


def profile_study(n_subjects: int, seed: int, warm: int, timed: int) -> None:
    import tempfile
    from pathlib import Path

    from adtl_spark.api import Parser

    gen, spans = _perfbench_module("gen"), _perfbench_module("spans")
    spark = get_spark("profile_study")
    tracer = spans.Tracer(spark.sparkContext)
    try:
        with tempfile.TemporaryDirectory() as tmp:
            study = gen.clinical_study(seed, n_subjects, Path(tmp) / "study")
            out = str(Path(tmp) / "out" / "study")
            print(
                f"study: {n_subjects} subjects, seed {seed}, "
                f"{study.csv_path.stat().st_size} CSV bytes",
                flush=True,
            )
            totals = []
            for i in range(warm + timed):
                tracer.enabled = i >= warm
                first = len(tracer.spans)
                with Parser(str(study.spec_path), spark=spark) as p:
                    with tracer.span("parse"):
                        p.parse(str(study.csv_path))
                    with tracer.span("report"):
                        p.build_report()
                    with tracer.span("save"):
                        p.save(out, format="parquet")
                phases = tracer.spans[first:]
                if not phases:
                    continue
                tracer.read_counters(phases)
                totals.append(sum(s.end - s.start for s in phases))
                cells = [
                    f"{s.name}={s.end - s.start:.3f}s jobs={s.jobs} tasks={s.tasks} "
                    f"shuffle_write={s.shuffle_write_bytes}B"
                    for s in phases
                ]
                print(f"pass {i - warm}: total={totals[-1]:.3f}s  " + "  ".join(cells),
                      flush=True)
            if totals:
                print(f"study: median={statistics.median(totals):.3f}s "
                      f"min={min(totals):.3f}s", flush=True)
    finally:
        spark.stop()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*")
    ap.add_argument("--study", type=int, metavar="SUBJECTS", default=None,
                    help="profile the spec path over a study of this many subjects")
    ap.add_argument("--seed", type=int, default=7, help="the --study generator seed")
    ap.add_argument("--explain", default=None, help="dir for explain output")
    ap.add_argument("--tag", default="before", help="suffix for explain files")
    ap.add_argument("--warm", type=int, default=1)
    ap.add_argument("--timed", type=int, default=2)
    ap.add_argument("--sf-dir", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    args = ap.parse_args()
    if args.study is None and not args.names:
        ap.error("name a registry query or pass --study SUBJECTS")
    if args.study is not None:
        profile_study(args.study, args.seed, args.warm, args.timed)

    all_q = Q.all_queries()
    for name in args.names:
        if name not in all_q:
            print(f"{name}: NOT IN REGISTRY", flush=True)
            continue
        spark = get_spark("profile_" + name)
        try:
            from bench import _release_leaked_blocks

            for _ in range(args.warm):
                all_q[name](spark, args.sf_dir).write.mode(
                    "overwrite").format("noop").save()
                _release_leaked_blocks(spark)
            runs, compiles, compile_ms = [], [], []
            for _ in range(args.timed):
                spark.sparkContext.setJobDescription(f"profile:{name}")
                n0, ms0 = _codegen_totals(spark)
                t0 = time.time()
                df = all_q[name](spark, args.sf_dir)
                df.write.mode("overwrite").format("noop").save()
                runs.append(round(time.time() - t0, 3))
                n1, ms1 = _codegen_totals(spark)
                compiles.append(n1 - n0)
                compile_ms.append(round(ms1 - ms0, 1))
                _release_leaked_blocks(spark)
            print(
                f"{name}: runs={runs} min={min(runs)} "
                f"compiles={compiles} compile_ms={compile_ms}",
                flush=True,
            )
            if args.explain:
                os.makedirs(args.explain, exist_ok=True)
                df = all_q[name](spark, args.sf_dir)
                txt = df._sc._jvm.PythonSQLUtils.explainString(
                    df._jdf.queryExecution(), "formatted")
                with open(os.path.join(
                        args.explain, f"{name}_{args.tag}.txt"), "w") as f:
                    f.write(txt)
        finally:
            spark.stop()


if __name__ == "__main__":
    main()
