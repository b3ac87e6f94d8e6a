"""session.py's materialization policy: every lineage cut in the package
goes through ``session.cut``, so ``spark.adtl.reliableCheckpoint``
covers every operator, and ``cut_and_release`` is the one
cut-then-unpersist helper."""

import ast
import inspect
import os
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from adtl_spark.operators import dedup as D
from adtl_spark.session import RELIABLE_CKPT_CONF, cut_and_release

PKG = Path(__file__).resolve().parent.parent / "adtl_spark"
CUT_METHODS = {"localCheckpoint", "checkpoint"}


def _cut_calls(source: str) -> list[int]:
    """Line numbers of ``.localCheckpoint(`` / ``.checkpoint(`` calls —
    real calls only, never a mention in a docstring or comment."""
    return [
        node.lineno
        for node in ast.walk(ast.parse(source))
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr in CUT_METHODS
    ]


def _helper_imports_from_dedup(source: str) -> list[int]:
    return [
        node.lineno
        for node in ast.walk(ast.parse(source))
        if isinstance(node, ast.ImportFrom)
        and (node.module or "").endswith("dedup")
        and any(
            a.name in {"cut_and_release", "_materialize_and_release"}
            for a in node.names
        )
    ]


def test_guard_scanner_ignores_docstrings_and_comments():
    src = (
        'def f(df):\n'
        '    """Materialize (``df.localCheckpoint()``) first."""\n'
        '    # df.checkpoint() would also do\n'
        '    return df.localCheckpoint(eager=True)\n'
    )
    assert _cut_calls(src) == [4]


def test_cuts_only_in_session():
    """No module but session.py cuts lineage itself, and nobody takes the
    release helper from operators.dedup."""
    bad = []
    for path in sorted(PKG.rglob("*.py")):
        src = path.read_text()
        rel = path.relative_to(PKG.parent)
        if path != PKG / "session.py":
            bad += [f"{rel}:{n} cut" for n in _cut_calls(src)]
        bad += [f"{rel}:{n} import" for n in _helper_imports_from_dedup(src)]
    assert bad == []
    assert not hasattr(D, "_materialize_and_release")
    assert "checkpoint_dir" not in inspect.signature(D.cluster_pairs).parameters


def test_cut_and_release_releases_caches(spark):
    """The caches go once the result is cut; the result stays readable."""
    base = spark.range(50).withColumn("x", F.col("id") % 7).persist()
    base.count()
    out = cut_and_release(base.groupBy("x").count(), [base])
    assert not base.is_cached
    assert out.count() == 7


def test_cut_and_release_releases_caches_on_failure(spark, monkeypatch):
    import adtl_spark.session as session

    def boom(df):
        raise RuntimeError("cut failed")

    base = spark.range(10).persist()
    base.count()
    monkeypatch.setattr(session, "cut", boom)
    with pytest.raises(RuntimeError):
        cut_and_release(base, [base])
    assert not base.is_cached


# ---------------------------------------------- reliable-vs-default parity


def _simhash_components(spark, tmp_path, tag):
    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy dog"),
            (3, "the quick brown fox jumped over the lazy dog"),
            (4, "completely unrelated text about databases and joins"),
            (5, "completely unrelated text about databases and joins"),
        ],
        "doc_id long, text string",
    )
    return D.simhash_components(docs).collect()


def _unigram_train(spark, tmp_path, tag):
    from adtl_spark.operators.tokenizer import unigram_train

    docs = [(i, "the quick brown fox jumps over the lazy dog the quick")
            for i in range(6)]
    docs += [(10 + i, "internationalization and internationalism wins")
             for i in range(4)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    return unigram_train(df, vocab_size=40, iters=2).collect()


def _schedule_frontier_banded(spark, tmp_path, tag):
    from adtl_spark.operators.text import schedule_frontier

    d = F.col("id")
    urls = spark.range(0, 300).select(
        F.concat(
            F.lit("http://h"),
            F.when(d % 2 == 0, F.lit(0)).otherwise(d % 7).cast("string"),
            F.lit(".test/p/"), d.cast("string"),
        ).alias("url"),
    )
    return schedule_frontier(urls, banded_numbering=True, n_bands=8).collect()


def _bradley_terry(spark, tmp_path, tag):
    from adtl_spark.operators.feedback import bradley_terry

    log = [("a", "b")] * 3 + [("b", "a"), ("b", "c"), ("c", "a"), ("a", "c")]
    df = spark.createDataFrame(log, "winner string, loser string")
    return bradley_terry(df, iters=3).collect()


def _mmr_topk(spark, tmp_path, tag):
    from adtl_spark.operators import retrieval as R

    vecs = [(i, [float(i % 4), float(i % 3) + 1.0, 1.0]) for i in range(1, 13)]
    emb = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    queries = emb.filter(F.col("vec_id").isin(1, 2))
    return R.mmr_topk(emb, queries, k=3, pool=5).collect()


def _best_snippet(spark, tmp_path, tag):
    from adtl_spark.operators.retrieval import best_snippet

    docs = spark.createDataFrame(
        [
            (1, "x x x spark hash join x x spark x"),
            (2, "spark y y y y y y y y y y y y hash y join"),
        ],
        "doc_id long, text string",
    )
    qdf = spark.createDataFrame(
        [(1, "spark hash join")], "query_id long, query string"
    )
    return best_snippet(docs, qdf, w=5, n_docs=2).collect()


def _append_to_search_index(spark, tmp_path, tag):
    from adtl_spark.operators import retrieval as R

    base = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "beta beta delta"), (3, "gamma alpha")],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [(4, "alpha alpha epsilon"), (5, "delta gamma")],
        "doc_id long, text string",
    )
    qdf = spark.createDataFrame(
        [(0, "alpha delta"), (1, "beta gamma")], "query_id long, query string"
    )
    path = str(tmp_path / f"idx_{tag}")
    R.write_search_index(base, path, n_buckets=8)
    R.append_to_search_index(batch, path, n_buckets=8)
    return R.bm25_query_index(spark, path, qdf, k=5, n_buckets=8).collect()


PARITY_CASES = {
    "simhash_components": _simhash_components,
    "unigram_train": _unigram_train,
    "schedule_frontier_banded": _schedule_frontier_banded,
    "bradley_terry": _bradley_terry,
    "mmr_topk": _mmr_topk,
    "best_snippet": _best_snippet,
    "append_to_search_index": _append_to_search_index,
}


def _n_files(d) -> int:
    return sum(len(fs) for _, _, fs in os.walk(d))


@pytest.mark.parametrize("case", sorted(PARITY_CASES))
def test_reliable_mode_matches_default(spark, tmp_path, monkeypatch, case):
    """Under spark.adtl.reliableCheckpoint the operator returns the rows
    of default mode, its cuts write checkpoint files, and not one of
    them is an executor-local checkpoint.

    The checkpoint cleaner deletes a cut's files once the cut frame is
    unreferenced and a JVM GC runs, which can happen before ``run``
    returns (``append_to_search_index`` drops its cut before the query
    job), so the test keeps every reliable cut referenced until the
    files are counted."""
    run = PARITY_CASES[case]
    ckpt = tmp_path / "ckpt"
    spark.sparkContext.setCheckpointDir(str(ckpt))
    want = sorted(map(tuple, run(spark, tmp_path, "default")))
    assert want

    df_cls = type(spark.range(1))
    local_cuts = []
    reliable_cuts = []
    orig_local = df_cls.localCheckpoint
    orig_reliable = df_cls.checkpoint

    def recording_local_checkpoint(self, *a, **kw):
        local_cuts.append(1)
        return orig_local(self, *a, **kw)

    def keeping_checkpoint(self, *a, **kw):
        cut_df = orig_reliable(self, *a, **kw)
        reliable_cuts.append(cut_df)
        return cut_df

    before = _n_files(ckpt)
    monkeypatch.setattr(df_cls, "localCheckpoint", recording_local_checkpoint)
    monkeypatch.setattr(df_cls, "checkpoint", keeping_checkpoint)
    spark.conf.set(RELIABLE_CKPT_CONF, "true")
    try:
        got = sorted(map(tuple, run(spark, tmp_path, "reliable")))
    finally:
        spark.conf.unset(RELIABLE_CKPT_CONF)
    assert got == want
    assert reliable_cuts
    assert _n_files(ckpt) > before
    assert local_cuts == []


def test_reliable_cut_files_are_deleted_once_unreferenced(tmp_path):
    """``get_spark`` turns on checkpoint cleaning (a static conf, so the
    check runs in a session of its own): a reliable cut's ``rdd-*``
    directory goes once the cut frame is garbage in Python and the JVM."""
    import subprocess
    import sys
    import textwrap

    ckpt = tmp_path / "ckpt"
    script = textwrap.dedent(
        f"""
        import gc, glob, time
        from adtl_spark.session import RELIABLE_CKPT_CONF, cut, get_spark

        spark = get_spark("checkpoint_cleaning", cpus=2)
        spark.conf.set(RELIABLE_CKPT_CONF, "true")
        spark.sparkContext.setCheckpointDir({str(ckpt)!r})
        df = cut(spark.range(100).selectExpr("id * 2 AS x"))
        assert df.count() == 100
        pattern = {str(ckpt)!r} + "/*/rdd-*"
        assert glob.glob(pattern), "the cut wrote no checkpoint"
        del df
        deadline = time.monotonic() + 60
        while glob.glob(pattern) and time.monotonic() < deadline:
            gc.collect()
            spark.sparkContext._jvm.System.gc()
            time.sleep(0.5)
        print("left:", glob.glob(pattern))
        spark.stop()
        """
    )
    root = PKG.parent
    proc = subprocess.run(
        [sys.executable, "-c", script],
        capture_output=True, text=True, timeout=600, cwd=root,
        env={**os.environ, "PYTHONPATH": str(root)},
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert "left: []" in proc.stdout, proc.stdout



def test_warm_passes_reuse_generated_code(spark, tmp_path, clinical_study):
    """``get_spark`` sizes Spark's JVM-wide codegen class cache above the
    engine's working set, so the third parse, report and save of the
    golden spec and of the study spec compiles no class.  One such pass
    generates about 110 classes, more than Spark's default cache of 100
    holds: under the default, each pass recompiles about 60 of them."""
    from test_golden_csv import CSV, SPEC

    from adtl_spark.api import Parser

    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == "8192"
    golden = tmp_path / "golden.csv"
    golden.write_text(CSV)
    study = clinical_study(3, 50, tmp_path / "study")
    runs = [(SPEC, str(golden), "csv"), (str(study.spec_path), str(study.csv_path), "parquet")]
    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    counts = []
    for i in range(3):
        before = compiles.METRIC_COMPILATION_TIME().getCount()
        for j, (spec, csv, fmt) in enumerate(runs):
            with Parser(spec, spark=spark) as parser:
                parser.parse(csv)
                parser.build_report()
                parser.save(str(tmp_path / f"out{i}-{j}"), format=fmt)
        counts.append(compiles.METRIC_COMPILATION_TIME().getCount() - before)
    assert counts[2] == 0, counts
