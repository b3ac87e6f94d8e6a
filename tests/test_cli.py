"""CLI surface (reference: src/adtl/cli.py parse/check subcommands)."""

import json
import textwrap

import pytest

from adtl_spark.cli import main

SPEC_TOML = textwrap.dedent(
    """\
    [adtl]
    name = "clitest"
    description = "cli test"

    [adtl.tables.subject]
    kind = "oneToOne"

    [subject.subject_id]
    field = "sid"

    [subject.sex]
    field = "sex"
    [subject.sex.values]
    1 = "male"
    2 = "female"
    """
)

CSV = "sid,sex,extra\nA1,1,x\nA2,2,y\n"


@pytest.fixture()
def workdir(tmp_path, spark):
    (tmp_path / "spec.toml").write_text(SPEC_TOML)
    (tmp_path / "data.csv").write_text(CSV)
    return tmp_path


def test_cli_parse_csv(workdir, capsys):
    out_prefix = str(workdir / "out")
    rc = main(
        ["parse", str(workdir / "spec.toml"), str(workdir / "data.csv"), "-o", out_prefix, "-q"]
    )
    assert rc == 0
    content = (workdir / "out-subject.csv").read_text()
    assert content.splitlines()[0] == "sex,subject_id"
    assert "male,A1" in content


def test_cli_parse_json_source(workdir):
    src = workdir / "data.jsonl"
    src.write_text('{"sid": "B1", "sex": "2"}\n')
    rc = main(
        ["parse", str(workdir / "spec.toml"), str(src), "-o", str(workdir / "j"), "-q"]
    )
    assert rc == 0
    assert "female,B1" in (workdir / "j-subject.csv").read_text()


def test_cli_check(workdir, capsys):
    rc = main(["check", str(workdir / "spec.toml"), str(workdir / "data.csv")])
    captured = capsys.readouterr().out
    assert rc == 0
    assert "extra" in captured  # unmapped field warned


def test_cli_save_report(workdir, tmp_path):
    report_file = tmp_path / "report.json"
    rc = main(
        [
            "parse",
            str(workdir / "spec.toml"),
            str(workdir / "data.csv"),
            "-o",
            str(workdir / "r"),
            "-q",
            "--save-report",
            str(report_file),
        ]
    )
    assert rc == 0
    report = json.loads(report_file.read_text())
    assert set(report) == {"total", "total_valid", "validation_errors"}


def test_cli_report_built_once(workdir, tmp_path, capsys, monkeypatch):
    """Printing the report and saving it reuse one computed report."""
    from adtl_spark.api import Parser

    calls = []
    real_build = Parser.build_report

    def counting_build(self):
        calls.append(self)
        return real_build(self)

    monkeypatch.setattr(Parser, "build_report", counting_build)
    report_file = tmp_path / "report.json"
    rc = main(
        [
            "parse",
            str(workdir / "spec.toml"),
            str(workdir / "data.csv"),
            "-o",
            str(workdir / "once"),
            "--save-report",
            str(report_file),
        ]
    )
    assert rc == 0
    assert len(calls) == 1
    assert "|percentage_valid|" in capsys.readouterr().out
    assert json.loads(report_file.read_text()) == calls[0].report


def test_cli_parse_closes_its_parser(workdir, spark, monkeypatch):
    """``parse`` runs its Parser in a ``with`` block: the cached tables are
    released when the command returns, also when it fails."""
    from adtl_spark.api import Parser

    exits = []
    real_exit = Parser.__exit__

    def recording_exit(self, *exc):
        exits.append(exc[0])
        return real_exit(self, *exc)

    monkeypatch.setattr(Parser, "__exit__", recording_exit)
    spark.catalog.clearCache()
    for rdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
        rdd.unpersist(True)
    base = [str(workdir / "spec.toml"), str(workdir / "data.csv")]
    assert main(["parse", *base, "-o", str(workdir / "c1")]) == 0
    with pytest.raises(OSError):
        main(["parse", *base, "-o", str(workdir / "missing" / "c2"), "-q"])
    assert exits[0] is None and issubclass(exits[1], OSError) and len(exits) == 2
    assert spark.sparkContext._jsc.getPersistentRDDs().isEmpty()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_bom_in_source_header(workdir, spark):
    from adtl_spark.api import Parser

    bom_csv = workdir / "bom.csv"
    bom_csv.write_bytes("﻿sid,sex\nZ1,1\n".encode("utf-8"))
    p = Parser(str(workdir / "spec.toml"), spark=spark).parse(
        str(bom_csv), skip_validation=True
    )
    out = list(p.read_table("subject"))
    assert out == [{"subject_id": "Z1", "sex": "male"}]


def test_parser_write_parquet_bucketed(spark, tmp_path):
    from adtl_spark.api import Parser

    spec = {
        "adtl": {"name": "bk", "description": "", "tables": {"t": {"kind": "oneToOne"}}},
        "t": {"sid": {"field": "id"}, "v": {"field": "x"}},
    }
    p = Parser(spec, spark=spark).parse_rows(
        [{"id": str(i), "x": str(i * 2)} for i in range(20)], skip_validation=True
    )
    p.write_parquet("t", str(tmp_path / "t"), bucket_by=["sid"], n_buckets=4)
    back = spark.table("bk_t")
    assert back.count() == 20
    plan = back.groupBy("sid").count()._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan  # bucketed layout: agg needs no shuffle
    spark.sql("DROP TABLE IF EXISTS bk_t")


def test_validate_specification(workdir):
    """Top-level API parity (reference: python_interface.py:62-72)."""
    import pydantic

    from adtl_spark import validate_specification

    assert validate_specification(str(workdir / "spec.toml")) is None
    with pytest.raises(pydantic.ValidationError):
        validate_specification({"adtl": {"name": "broken"}})


def test_check_mapping(workdir, spark):
    """Reference python_interface.py:75-103: spec-only fields raise,
    unmapped data columns warn."""
    from adtl_spark import check_mapping

    with pytest.warns(UserWarning, match="extra"):
        check_mapping(str(workdir / "spec.toml"), str(workdir / "data.csv"), spark=spark)

    # a spec field missing from the data is an error
    bad = (workdir / "spec.toml").read_text() + '\n[subject.age]\nfield = "age"\n'
    (workdir / "bad.toml").write_text(bad)
    with pytest.raises(ValueError, match="age"):
        check_mapping(str(workdir / "bad.toml"), str(workdir / "data.csv"), spark=spark)

    # spec-only check runs without data
    check_mapping(str(workdir / "spec.toml"))


def test_cli_autoparser_chain(tmp_path, spark, monkeypatch, capsys):
    """create-dict -> create-mapping -> create-parser -> parse: the whole
    autoparser CLI surface chained on one dataset, ending with the
    generated spec executing on the engine."""
    monkeypatch.chdir(tmp_path)
    (tmp_path / "pets.csv").write_text(
        "Sexe,Statut\n" + "m,vivant\n" * 8 + "f,mort\n" * 7
    )
    schema = {
        "properties": {
            "sex": {"enum": ["male", "female", None]},
            "status": {"enum": ["alive", "dead", None]},
        }
    }
    (tmp_path / "schema.json").write_text(json.dumps(schema))
    (tmp_path / "config.json").write_text(
        json.dumps({"language": "fr", "schemas": {"pets": str(tmp_path / "schema.json")}})
    )
    (tmp_path / "glossary.json").write_text(
        json.dumps(
            {
                "Sexe": "Sex",
                "Statut": "Status",
                "m": "male",
                "f": "female",
                "vivant": "alive",
                "mort": "dead",
            }
        )
    )

    assert main(["create-dict", str(tmp_path / "pets.csv"), "-o", "dict.csv"]) == 0
    dd = (tmp_path / "dict.csv").read_text()
    assert "Sexe" in dd and "Field Name" in dd

    # descriptions come from the glossary at mapping time; fill the
    # Description column the way generate_descriptions would
    import pandas as pd

    from adtl_spark import autoparser as AP

    described = AP.generate_descriptions(
        str(tmp_path / "dict.csv"),
        AP.MockLLMClient(glossary=json.loads((tmp_path / "glossary.json").read_text())),
    )
    described.to_csv(tmp_path / "dict.csv", index=False)

    assert (
        main(
            [
                "create-mapping",
                "dict.csv",
                "pets",
                "-c",
                "config.json",
                "--glossary",
                "glossary.json",
                "-o",
                "mapping.csv",
            ]
        )
        == 0
    )
    assert main(
        ["create-parser", "mapping.csv", "-c", "config.json", "-n", "petsgen"]
    ) == 0
    toml_text = (tmp_path / "petsgen.toml").read_text()
    assert "vivant" in toml_text

    from adtl_spark.api import Parser

    p = Parser(str(tmp_path / "petsgen.toml"), spark=spark).parse(
        str(tmp_path / "pets.csv"), skip_validation=True
    )
    rows = [tuple(r) for r in p.table("pets").collect()]
    assert ("male", "alive") in rows and ("female", "dead") in rows


def test_cli_clean_corpus(tmp_path, spark, capsys):
    """End-to-end `adtl-spark clean`: parquet in, cleaned parquet out,
    per-stage JSON report on stdout."""
    import json as _json

    from adtl_spark.cli import main

    src = str(tmp_path / "docs")
    rows = [
        (1, "a good document with plenty of distinct readable words here"),
        (2, "a good document with plenty of distinct readable words here"),
        (3, "spam spam spam spam spam spam spam spam spam spam"),
        (4, "another reasonable document about entirely different topics"),
    ]
    spark.createDataFrame(rows, ["doc_id", "text"]).write.parquet(src)
    out = str(tmp_path / "cleaned")
    rc = main(["clean", src, "-o", out, "--min-quality", "0.3"])
    assert rc == 0
    report = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert report["input"] == 4
    # the repetition filter kills doc 3; near-dedup kills one of 1/2
    assert report["after_near_dedup"] < report["input"]
    kept = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    assert kept in ({1, 4}, {2, 4})  # exactly one of the twins survives


def test_corpus_clean_runs_nothing_before_its_write(tmp_path, spark, monkeypatch):
    """corpus_clean starts no Spark job before the write of the cleaned
    corpus: the report's counts come from that one action's
    observations, and its caches are released afterwards."""
    from adtl_spark.pipeline import corpus_clean

    docs = spark.createDataFrame(
        [
            (1, "a good document with plenty of distinct readable words here"),
            (2, "a good document with plenty of distinct readable words here"),
            (3, "spam spam spam spam spam spam spam spam spam spam"),
            (4, "another reasonable document about entirely different topics"),
        ],
        "doc_id long, text string",
    )
    sc = spark.sparkContext
    writer_cls = type(docs.write)
    orig_parquet = writer_cls.parquet
    jobs_before_write = []

    def parquet(self, *a, **kw):
        sc._jsc.sc().listenerBus().waitUntilEmpty(10000)
        jobs_before_write.append(
            len(sc.statusTracker().getJobIdsForGroup("corpus_clean_test"))
        )
        return orig_parquet(self, *a, **kw)

    monkeypatch.setattr(writer_cls, "parquet", parquet)
    n_cached = sc._jsc.sc().getPersistentRDDs().size()
    out = str(tmp_path / "cleaned")
    sc.setJobGroup("corpus_clean_test", "corpus_clean")
    try:
        report = corpus_clean(docs, out, min_quality=0.3)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert jobs_before_write == [0]
    assert report == {
        "after_near_dedup": 2,
        "input": 4,
        "after_quality_and_repetition": 3,
    }
    kept = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    assert kept in ({1, 4}, {2, 4})
    assert sc._jsc.sc().getPersistentRDDs().size() == n_cached


def test_cli_parquet_flag_spelling(workdir):
    """The reference CLI spells parquet output as a --parquet flag; it
    must behave exactly like --format parquet."""
    rc = main(
        [
            "parse",
            str(workdir / "spec.toml"),
            str(workdir / "data.csv"),
            "-o",
            str(workdir / "pq"),
            "--parquet",
            "-q",
            "-v",  # accepted for compatibility
        ]
    )
    assert rc == 0
    import glob

    assert glob.glob(str(workdir / "pq-subject.parquet*"))
