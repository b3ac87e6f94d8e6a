"""``Parser`` owns one cache per ``parse*`` call: every consumer of a table
(report, sinks, ``table()``) shares one run of its plan, and every release
path (re-parse, ``close()``, ``with``, garbage collection) leaves no cached
or persisted blocks behind."""

import gc
import json
import os
import subprocess
import sys
import textwrap
from pathlib import Path

import pytest

from adtl_spark.api import Parser
from adtl_spark.plans.tables import ROW_ID, ROW_POS, order_keys

N_SUBJECTS = 60
VISITS = 3

SPEC = {
    "adtl": {
        "name": "cachetest",
        "description": "",
        "tables": {
            "subject": {
                "kind": "groupBy",
                "groupBy": "subject_id",
                "aggregation": "lastNotNull",
            },
            "visit": {"kind": "oneToOne"},
            "obs": {"kind": "oneToMany", "discriminator": "name"},
            "metadata": {"kind": "constant"},
        },
    },
    "subject": {"subject_id": {"field": "sid"}, "age": {"field": "age"}},
    "visit": {"subject_id": {"field": "sid"}, "day": {"field": "day"}},
    "obs": [
        {"subject_id": {"field": "sid"}, "name": "temp", "value": {"field": "temp"},
         "if": {"temp": {"!=": ""}}},
        {"subject_id": {"field": "sid"}, "name": "day", "value": {"field": "day"},
         "if": {"day": {"!=": ""}}},
    ],
    "metadata": {"dataset": "cachetest", "version": 2},
}

SCHEMAS = {
    "subject": {
        "properties": {"subject_id": {"type": "string"},
                       "age": {"type": "integer", "minimum": 0, "maximum": 120}},
        "required": ["subject_id"],
    },
    "visit": {
        "properties": {"subject_id": {"type": "string"},
                       "day": {"type": "integer", "maximum": 2}},
        "required": ["subject_id", "day"],
    },
    "obs": {
        "properties": {"subject_id": {"type": "string"}, "name": {"type": "string"},
                       "value": {"type": "number", "minimum": 35}},
        "required": ["subject_id", "name"],
    },
}


def _spec(tmp_path):
    spec = json.loads(json.dumps(SPEC))
    for table, schema in SCHEMAS.items():
        path = tmp_path / f"{table}.schema.json"
        path.write_text(json.dumps(schema))
        spec["adtl"]["tables"][table]["schema"] = str(path)
    return spec


def _write_csv(path: Path, shift: int = 0, subjects: range = range(N_SUBJECTS)) -> Path:
    lines = ["sid,age,day,temp"]
    for s in subjects:
        for d in range(VISITS):
            age = "" if d else str((s * 7 + shift) % 140)
            temp = "" if (s + d) % 5 == 0 else f"{34 + (s * d) % 5}.5"
            lines.append(f"S{s:03d},{age},{d},{temp}")
    path.write_text("\n".join(lines) + "\n")
    return path


def _cache_manager(spark):
    return spark._jsparkSession.sharedState().cacheManager()


def _clear_caches(spark):
    spark.catalog.clearCache()
    for rdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
        rdd.unpersist(True)


def _assert_nothing_cached(spark):
    assert spark.sparkContext._jsc.getPersistentRDDs().isEmpty()
    assert _cache_manager(spark).isEmpty()


def _run_in_group(sc, group, fn):
    sc.setJobGroup(group, group)
    try:
        return fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def _input_records(sc, group) -> int:
    """Records the group's stages read from their input: source rows for a
    file scan, one per cached batch for a cache read (Spark counts a cache
    hit as input too, so input bytes cannot tell the two apart)."""
    sc._jsc.sc().listenerBus().waitUntilEmpty(30000)
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    total = 0
    for job_id in tracker.getJobIdsForGroup(group):
        for stage_id in tracker.getJobInfo(job_id).stageIds:
            total += store.lastStageAttempt(stage_id).inputRecords()
    return total


def _written_rows(spark, prefix, tables):
    return {t: spark.read.parquet(f"{prefix}-{t}.parquet").count() for t in tables}


@pytest.mark.parametrize("report_first", [True, False], ids=["report-save", "save-report"])
def test_second_consumer_reads_no_source(spark, tmp_path, report_first):
    """Whichever of ``build_report()`` and ``save()`` runs first runs each
    table's plan; the second reads the cache.  The source file is deleted
    between the two, so a re-run scan would fail."""
    sc = spark.sparkContext
    csv = _write_csv(tmp_path / "data.csv")
    n_rows = N_SUBJECTS * VISITS
    out = str(tmp_path / "out")
    with Parser(_spec(tmp_path), spark=spark) as p:
        p.parse(str(csv))
        steps = [("report", p.build_report), ("save", lambda: p.save(out, format="parquet"))]
        if not report_first:
            steps.reverse()
        (first, run_first), (second, run_second) = steps
        group = f"read-once-{first}-{tmp_path.name}"
        _run_in_group(sc, group + "-1", run_first)
        csv.unlink()
        _run_in_group(sc, group + "-2", run_second)
        assert _input_records(sc, group + "-1") >= n_rows
        assert _input_records(sc, group + "-2") < n_rows
        report = p.report
    assert report["total"] == {"subject": N_SUBJECTS, "visit": n_rows, "obs": 2 * n_rows - 36}
    assert report["total_valid"]["visit"] == n_rows
    written = _written_rows(spark, out, ["subject", "visit", "obs", "metadata"])
    assert written == {"subject": N_SUBJECTS, "visit": n_rows, "obs": 2 * n_rows - 36,
                       "metadata": 1}


def _assert_file_order(p):
    """Every table of a parse of ``_write_csv``'s rows reads in file order."""
    subjects = [r["subject_id"] for r in p.read_table("subject")]
    visits = [(r["subject_id"], r["day"]) for r in p.read_table("visit")]
    obs = [(r["subject_id"], r["name"]) for r in p.read_table("obs", typed=False)]
    assert subjects == [f"S{s:03d}" for s in range(N_SUBJECTS)]
    assert visits == [(f"S{s:03d}", d) for s in range(N_SUBJECTS) for d in range(VISITS)]
    want_obs = []
    for s in range(N_SUBJECTS):
        for d in range(VISITS):
            if (s + d) % 5:
                want_obs.append((f"S{s:03d}", "temp"))
            want_obs.append((f"S{s:03d}", "day"))
    assert obs == want_obs


def _keys(p) -> dict[str, list[str]]:
    return {name: order_keys(df) for name, df in p._unsorted.items()}


def test_tables_keep_file_order_over_the_cache(spark, tmp_path):
    csv = _write_csv(tmp_path / "data.csv")
    with Parser(_spec(tmp_path), spark=spark) as p:
        p.parse(str(csv))
        p.build_report()  # fills the cache first
        _assert_file_order(p)
        # a small single file runs narrow: only the groupBy table sorts
        assert _keys(p) == {"subject": [ROW_ID], "visit": [], "obs": [], "metadata": []}
    assert p.table("subject").columns == ["adtl_valid", "adtl_error", "subject_id", "age"]


def test_narrow_parse_keeps_file_order_over_several_splits(spark, tmp_path):
    """A narrow parse of one file split into several scan partitions keeps
    file order: the plain row id orders the splits by offset, and the
    row-local tables keep them in that order with no sort."""
    csv = _write_csv(tmp_path / "data.csv")
    confs = {"spark.sql.files.maxPartitionBytes": "1k", "spark.sql.files.openCostInBytes": "1"}
    old = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        with Parser(_spec(tmp_path), spark=spark) as p:
            p.parse(str(csv))
            assert p.table("visit").rdd.getNumPartitions() >= 3
            assert _keys(p)["visit"] == _keys(p)["obs"] == []
            _assert_file_order(p)
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


def test_multi_file_source_keeps_the_sort(spark, tmp_path):
    """A glob over two files carries split-rank row ids, so its row-local
    tables keep their order keys and sort into sorted-path order.  The
    second file is the larger: Spark packs it first."""
    _write_csv(tmp_path / "part-0.csv", subjects=range(0, 10))
    _write_csv(tmp_path / "part-1.csv", subjects=range(10, N_SUBJECTS))
    with Parser(_spec(tmp_path), spark=spark) as p:
        p.parse(str(tmp_path / "*.csv"))
        assert _keys(p)["visit"] == [ROW_ID]
        assert _keys(p)["obs"] == [ROW_ID, ROW_POS]
        _assert_file_order(p)


@pytest.mark.parametrize("fmt", ["parquet", "csv.gz"])
def test_small_non_csv_sources_keep_the_spread(spark, tmp_path, fmt):
    """The narrow path's size threshold was measured on uncompressed CSV
    only.  A small parquet or gzip CSV file is still spread across cores,
    so its row-local tables keep their order keys and sort into file
    order."""
    import gzip

    from adtl_spark.sources.io import read_csv_source

    csv = _write_csv(tmp_path / "data.csv")
    src = tmp_path / f"data.{fmt}"
    if fmt == "parquet":
        read_csv_source(spark, str(csv)).coalesce(1).write.parquet(str(src))
    else:
        with gzip.open(src, "wt") as fp:
            fp.write(csv.read_text())
    with Parser(_spec(tmp_path), spark=spark) as p:
        p.parse(str(src))
        assert _keys(p)["visit"] == [ROW_ID]
        assert _keys(p)["obs"] == [ROW_ID, ROW_POS]
        _assert_file_order(p)


def test_row_list_source_needs_no_sort(spark, tmp_path):
    """A ``parse_rows`` source has no input files, so it is never spread:
    its row-local tables carry no order keys, plan no exchange, and keep
    the rows' order."""
    import csv

    from test_plans import physical_plan

    with open(_write_csv(tmp_path / "data.csv"), newline="") as fp:
        rows = [{k: v or None for k, v in r.items()} for r in csv.DictReader(fp)]
    with Parser(_spec(tmp_path), spark=spark) as p:
        p.parse_rows(rows)
        assert _keys(p)["visit"] == _keys(p)["obs"] == []
        for table in ("visit", "obs"):
            assert "Exchange" not in physical_plan(p.table(table)), table
        _assert_file_order(p)


def _parquet_rows(prefix: str, table: str) -> list[dict]:
    """A written table's rows, its part files read in name order."""
    import pyarrow.parquet as pq

    files = sorted(Path(f"{prefix}-{table}.parquet").glob("*.parquet"))
    return [row for f in files for row in pq.read_table(f).to_pylist()]


def _study_outputs(spark, study, out: str):
    with Parser(str(study.spec_path), spark=spark) as p:
        p.parse(str(study.csv_path))
        report = json.dumps(p.build_report())
        keys = _keys(p)
        p.save(out, format="parquet")
    return keys, report, {t: _parquet_rows(out, t) for t in p.tables}


def test_narrow_and_spread_parses_write_equal_output(spark, tmp_path, monkeypatch, clinical_study):
    """The study at 500 subjects parses narrow; with the spread threshold at
    0 the same source is spread across cores and every non-constant table
    sorts.  Both write the same rows in file order and the same report."""
    import csv

    from adtl_spark.plans import tables

    study = clinical_study(7, 500, tmp_path / "study")
    narrow_keys, narrow_report, narrow_rows = _study_outputs(
        spark, study, str(tmp_path / "narrow")
    )
    monkeypatch.setattr(tables, "SPREAD_MIN_BYTES", 0)
    spread_keys, spread_report, spread_rows = _study_outputs(
        spark, study, str(tmp_path / "spread")
    )
    assert narrow_keys["visit"] == narrow_keys["observation"] == []
    assert spread_keys["visit"] == [ROW_ID]
    assert spread_keys["observation"] == [ROW_ID, ROW_POS]
    assert narrow_keys["subject"] == spread_keys["subject"] == [ROW_ID]
    assert narrow_report == spread_report
    assert narrow_rows == spread_rows
    with open(study.csv_path, newline="") as fp:
        source = [(r["sid"], r["visit_no"]) for r in csv.DictReader(fp)]
    assert [(r["subject_id"], r["visit_no"]) for r in narrow_rows["visit"]] == source


def test_narrow_study_plans_no_exchange_and_few_jobs(spark, tmp_path, clinical_study):
    """On the narrow path the row-local tables plan no exchange, and
    ``save`` after ``build_report`` (the benchmark's pass) runs at most six
    jobs: one per row-local and constant table, three for the sorted
    groupBy table."""
    from test_plans import physical_plan

    sc = spark.sparkContext
    study = clinical_study(3, 500, tmp_path / "study")
    group = f"narrow-save-{tmp_path.name}"
    with Parser(str(study.spec_path), spark=spark) as p:
        p.parse(str(study.csv_path))
        for table in ("visit", "observation"):
            assert "Exchange" not in physical_plan(p.table(table)), table
        p.build_report()
        _run_in_group(sc, group, lambda: p.save(str(tmp_path / "out"), format="parquet"))
    sc._jsc.sc().listenerBus().waitUntilEmpty(30000)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 6


def test_save_writes_tables_concurrently_in_file_order(spark, tmp_path, monkeypatch):
    """``save()`` writes each table from a thread of its own, waits for
    every write and re-raises the first failed table's error in table
    order; every table it wrote holds its rows in file order."""
    import threading

    import pyarrow.parquet as pq

    import adtl_spark.api as api

    real_write = api.write_parquet
    threads = {}

    def write(df, path):
        table = Path(path).name.split("-", 1)[1].split(".")[0]
        threads[table] = threading.get_ident()
        if table in ("visit", "obs"):
            raise RuntimeError(f"{table} failed")
        real_write(df, path)

    monkeypatch.setattr(api, "write_parquet", write)
    csv = _write_csv(tmp_path / "data.csv")
    out = str(tmp_path / "out")
    with Parser(_spec(tmp_path), spark=spark) as p:
        p.parse(str(csv))
        with pytest.raises(RuntimeError, match="visit failed"):
            p.save(out, format="parquet")
        assert set(threads) == {"subject", "visit", "obs", "metadata"}
        assert len(set(threads.values())) == 4
        assert threading.get_ident() not in threads.values()
        for table in ("subject", "metadata"):
            want = [r.asDict() for r in p.table(table).collect()]
            files = sorted(Path(f"{out}-{table}.parquet").glob("*.parquet"))
            got = [r for f in files for r in pq.read_table(f).to_pylist()]
            assert got == want, table


def test_reparse_releases_the_previous_cache(spark, tmp_path):
    _clear_caches(spark)
    p = Parser(_spec(tmp_path), spark=spark)
    p.parse(str(_write_csv(tmp_path / "a.csv")))
    p.build_report()
    first = list(p._unsorted.values())
    assert not spark.sparkContext._jsc.getPersistentRDDs().isEmpty()
    p.parse(str(_write_csv(tmp_path / "b.csv", shift=1)))
    # the first parse's blocks are gone; the second has no consumer yet
    _assert_nothing_cached(spark)
    assert all(not df.storageLevel.useMemory for df in first)
    p.build_report()
    p.close()
    _assert_nothing_cached(spark)


def test_cache_is_registered_by_the_first_consumer(spark, tmp_path):
    """A parse whose tables are read only through ``data`` registers no
    cache; the first consumer registers every ordered table, and the
    one-row constant table is never cached."""
    _clear_caches(spark)
    with Parser(_spec(tmp_path), spark=spark) as p:
        p.parse(str(_write_csv(tmp_path / "data.csv")))
        assert p.data["visit"].count() == N_SUBJECTS * VISITS
        _assert_nothing_cached(spark)
        p.table("visit")
        cached = {name for name, df in p._unsorted.items() if df.storageLevel.useMemory}
        assert cached == {"subject", "visit", "obs"}
    _assert_nothing_cached(spark)


def test_close_and_with_release_the_cache(spark, tmp_path):
    csv = str(_write_csv(tmp_path / "data.csv"))
    _clear_caches(spark)
    p = Parser(_spec(tmp_path), spark=spark).parse(csv)
    p.build_report()
    p.close()
    _assert_nothing_cached(spark)
    p.close()  # idempotent
    with Parser(_spec(tmp_path), spark=spark) as q:
        q.parse(csv).build_report()
        assert not _cache_manager(spark).isEmpty()
    _assert_nothing_cached(spark)


def test_collected_parser_releases_its_cache(spark, tmp_path):
    csv = str(_write_csv(tmp_path / "data.csv"))
    _clear_caches(spark)
    p = Parser(_spec(tmp_path), spark=spark).parse(csv)
    p.build_report()
    del p
    gc.collect()
    _assert_nothing_cached(spark)


def test_table_obtained_before_close_recomputes(spark, tmp_path):
    csv = str(_write_csv(tmp_path / "data.csv"))
    _clear_caches(spark)
    with Parser(_spec(tmp_path), spark=spark) as p:
        p.parse(csv)
        visit = p.table("visit")
        before = visit.collect()
    after = visit.collect()
    assert after == before and len(after) == N_SUBJECTS * VISITS
    _assert_nothing_cached(spark)


def test_release_tolerates_a_stopped_context(tmp_path):
    """A Parser closed or collected after its SparkContext has stopped
    releases nothing and raises nothing."""
    script = textwrap.dedent(
        """
        import gc
        from adtl_spark.api import Parser
        from adtl_spark.session import get_spark

        spark = get_spark("stopped_release", cpus=2)
        spec = {"adtl": {"name": "s", "description": "",
                         "tables": {"t": {"kind": "oneToOne"}}},
                "t": {"a": {"field": "a"}}}
        closed = Parser(spec, spark=spark).parse_rows([{"a": "1"}, {"a": "2"}])
        dropped = Parser(spec, spark=spark).parse_rows([{"a": "3"}])
        assert closed.table("t").count() == 2 and dropped.table("t").count() == 1
        spark.stop()
        closed.close()
        del dropped
        gc.collect()
        print("released")
        """
    )
    root = Path(__file__).resolve().parent.parent
    proc = subprocess.run(
        [sys.executable, "-c", script],
        capture_output=True, text=True, timeout=600, cwd=root,
        env={**os.environ, "PYTHONPATH": str(root)},
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert "released" in proc.stdout
    assert "Exception ignored" not in proc.stderr, proc.stderr[-2000:]
