"""Command-line interface mirroring the reference's ``adtl`` CLI surface
(reference: src/adtl/cli.py — ``parse`` and ``check`` subcommands) plus the
``adtl-autoparser`` subcommands (reference: src/adtl/autoparser/__init__.py:
create-dict / format-dict / create-mapping / create-parser).  The mapping
step takes ``--glossary`` (a JSON translation table driving the
deterministic offline client) since interactive LLM access is a deployment
concern — a real client plugs in through the same LLMClient protocol."""

from __future__ import annotations

import argparse
import json
import sys
from pathlib import Path


def handle_parse(args: argparse.Namespace) -> int:
    from adtl_spark.api import Parser, print_report

    if getattr(args, "parquet", False):
        args.format = "parquet"
    if args.format == "parquet" and _spec_returns_unmatched(args.spec):
        print(
            "adtl-spark: returnUnmatched specs produce mixed-type columns "
            "and cannot write parquet (reference behaviour)",
            file=sys.stderr,
        )
        return 1
    with Parser(
        args.spec,
        include_defs=args.include_def or [],
        include_transform=args.include_transform,
    ) as parser:
        parser.parse(args.file, encoding=args.encoding)
        parser.save(args.output or parser.name, format=args.format)
        if args.quiet and not args.save_report:
            return 0
        report = parser.build_report()
    if not args.quiet:
        print_report(report)
    if args.save_report:
        Path(args.save_report).write_text(json.dumps(report, indent=2, default=int))
    return 0


def _spec_returns_unmatched(spec_path: str) -> bool:
    from adtl_spark.spec import read_spec_file

    try:
        doc = read_spec_file(spec_path)
    except Exception:
        return False
    return bool(doc.get("adtl", {}).get("returnUnmatched", False))


def handle_check(args: argparse.Namespace) -> int:
    from adtl_spark.api import Parser

    parser = Parser(args.spec)
    unmapped, absent = parser.check_spec_fields(args.file)
    status = 0
    if absent:
        print(f"ERROR: fields in spec but not in data: {sorted(absent)}")
        status = 1
    if unmapped:
        print(f"WARNING: fields in data but not mapped by spec: {sorted(unmapped)}")
    if status == 0:
        print("spec and data fields are consistent")
    return status


def _autoparser_config(path: str | None):
    from adtl_spark.autoparser import AutoparserConfig, load_config

    return load_config(path) if path else AutoparserConfig()


def handle_create_dict(args: argparse.Namespace) -> int:
    from adtl_spark import autoparser as AP
    from adtl_spark.session import get_spark
    from adtl_spark.sources.io import read_source

    spark = get_spark()
    df = read_source(spark, args.data)
    dd = AP.create_dict(df, _autoparser_config(args.config))
    dd.to_csv(args.output, index=False)
    print(f"Data dictionary saved to '{args.output}'")
    return 0


def handle_format_dict(args: argparse.Namespace) -> int:
    from adtl_spark import autoparser as AP

    dd = AP.format_dict(args.data_dict, _autoparser_config(args.config))
    out = args.output
    if out.endswith(".parquet"):
        dd.to_parquet(out, index=False)
    else:
        dd.to_csv(out, index=False)
    print(f"Formatted data dictionary saved to '{out}'")
    return 0


def handle_create_mapping(args: argparse.Namespace) -> int:
    from adtl_spark import autoparser as AP

    glossary = {}
    if args.glossary:
        glossary = json.loads(Path(args.glossary).read_text())
    client = AP.MockLLMClient(glossary=glossary)
    mapping = AP.create_mapping(
        args.data_dict,
        args.table_name,
        _autoparser_config(args.config),
        client,
        table_format="long" if args.long_table else "wide",
        save=True,
        file_name=args.output,
    )
    print(f"Mapping file saved to '{args.output}' ({len(mapping)} rows)")
    return 0


def handle_create_parser(args: argparse.Namespace) -> int:
    from adtl_spark import autoparser as AP

    out = args.output or f"{args.name}.toml"
    AP.create_parser(
        args.mappings,
        _autoparser_config(args.config),
        args.name,
        description=args.description,
        file_name=out,
    )
    print(f"Parser spec saved to '{out}'")
    return 0


def handle_clean(args: argparse.Namespace) -> int:
    from adtl_spark.pipeline import corpus_clean
    from adtl_spark.session import get_spark
    from adtl_spark.sources.io import read_jsonl

    spark = get_spark("adtl_spark_clean")
    if args.data.endswith((".jsonl", ".json")):
        docs = read_jsonl(
            spark, args.data, schema=f"{args.id_col} long, {args.text_col} string"
        )
    else:
        docs = spark.read.parquet(args.data)
    report = corpus_clean(
        docs,
        args.output,
        min_quality=args.min_quality,
        max_top_bigram_frac=args.max_repetition,
        threshold=args.dedup_threshold,
        text_col=args.text_col,
        id_col=args.id_col,
    )
    print(json.dumps(report))
    return 0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(
        prog="adtl-spark",
        description="Spec-driven ETL on Spark (adtl-compatible specification format)",
    )
    sub = ap.add_subparsers(dest="command", required=True)

    p = sub.add_parser("parse", help="transform a source file according to a spec")
    p.add_argument("spec", help="specification file (.toml or .json)")
    p.add_argument("file", help="source CSV file")
    p.add_argument("-o", "--output", help="output file prefix (default: spec name)")
    p.add_argument("--encoding", default="UTF-8", help="source file encoding")
    p.add_argument(
        "--format", default="csv", choices=("csv", "parquet"), help="output format"
    )
    p.add_argument(
        "--parquet",
        action="store_true",
        help="output in parquet format (reference-CLI spelling of --format parquet)",
    )
    p.add_argument(
        "-v",
        "--verbose",
        action="store_true",
        help="accepted for reference-CLI compatibility (Spark logs are "
        "controlled by the session log level)",
    )
    p.add_argument(
        "--include-def",
        action="append",
        help="additional definition file(s) to splice into adtl.defs",
    )
    p.add_argument(
        "--include-transform", help="Python file with custom transform functions"
    )
    p.add_argument("-q", "--quiet", action="store_true", help="suppress report")
    p.add_argument("--save-report", help="save validation report as JSON")
    p.add_argument(
        "--parallel",
        action="store_true",
        help="accepted for reference-CLI compatibility; execution is always "
        "parallel on Spark",
    )
    p.set_defaults(func=handle_parse)

    c = sub.add_parser("check", help="check spec fields against a data file")
    c.add_argument("spec", help="specification file")
    c.add_argument("file", help="source CSV file")
    c.set_defaults(func=handle_check)

    d = sub.add_parser("create-dict", help="infer a data dictionary from a dataset")
    d.add_argument("data", help="source data file (csv/parquet)")
    d.add_argument("-o", "--output", default="data_dictionary.csv")
    d.add_argument("-c", "--config", help="autoparser config (.toml/.json)")
    d.set_defaults(func=handle_create_dict)

    f = sub.add_parser(
        "format-dict", help="normalize a user data dictionary for autoparser"
    )
    f.add_argument("data_dict", help="dictionary file (csv/xlsx/parquet)")
    f.add_argument("-o", "--output", default="formatted_data_dict.parquet")
    f.add_argument("-c", "--config", help="autoparser config (.toml/.json)")
    f.set_defaults(func=handle_format_dict)

    m = sub.add_parser(
        "create-mapping", help="map a data dictionary to a schema (offline client)"
    )
    m.add_argument("data_dict", help="dictionary file (csv/xlsx/parquet)")
    m.add_argument("table_name", help="target table name from the config schemas")
    m.add_argument("-c", "--config", required=True, help="autoparser config with schemas")
    m.add_argument("--glossary", help="JSON file of header/value translations")
    m.add_argument("--long-table", action="store_true", help="target is a long table")
    m.add_argument("-o", "--output", default="mapping_file.csv")
    m.set_defaults(func=handle_create_mapping)

    t = sub.add_parser(
        "create-parser", help="generate a TOML parser spec from a mapping file"
    )
    t.add_argument("mappings", help="mapping CSV from create-mapping")
    t.add_argument("-c", "--config", required=True, help="autoparser config with schemas")
    t.add_argument("-n", "--name", default="globalhealth", help="parser name")
    t.add_argument("--description", help="parser description")
    t.add_argument("-o", "--output", help="output TOML path (default: <name>.toml)")
    t.set_defaults(func=handle_create_parser)

    cl = sub.add_parser(
        "clean",
        help="clean a document corpus: quality filter, repetition filter, "
        "MinHash near-dup removal (extension; not in the reference CLI)",
    )
    cl.add_argument("data", help="documents file (parquet or jsonl)")
    cl.add_argument("-o", "--output", required=True, help="output parquet path")
    cl.add_argument("--min-quality", type=float, default=0.5)
    cl.add_argument("--max-repetition", type=float, default=0.2)
    cl.add_argument("--dedup-threshold", type=float, default=0.6)
    cl.add_argument("--text-col", default="text")
    cl.add_argument("--id-col", default="doc_id")
    cl.set_defaults(func=handle_clean)

    args = ap.parse_args(argv)
    return args.func(args)


if __name__ == "__main__":
    sys.exit(main())
