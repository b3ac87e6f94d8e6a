"""Public API mirroring the reference surface: ``Parser`` / ``parse`` /
``parse_rows`` (reference: src/adtl/__init__.py:3-6,
src/adtl/python_interface.py:14-72, src/adtl/parser.py:243-355).
"""

from __future__ import annotations

import importlib.util
import inspect
import weakref
from pathlib import Path
from typing import Any, Callable, Iterable

from pyspark import InheritableThread, SparkContext
from pyspark.sql import DataFrame, SparkSession

from adtl_spark.functions.render import decode
from adtl_spark.plans.tables import (
    StreamingUnsupportedError,
    build_all_tables,
    in_row_order,
)
from adtl_spark.session import get_spark
from adtl_spark.sources.io import (
    dataframe_from_rows,
    read_csv_source,
    read_source,
    write_csv_single,
    write_parquet,
)
from adtl_spark.spec import CompiledSpec, StrDict
from adtl_spark.validate import annotate_validation, validation_report


def load_custom_transformations(filepath: str | Path) -> dict[str, Callable]:
    """Load public callables from a user Python file (U1, reference:
    parser.py:197-226).  Returned as a registry instead of monkey-patching a
    module; Spark ships the closures to executors."""
    path = Path(filepath)
    if not path.exists():
        raise FileNotFoundError(f"No such file: {str(filepath)!r}")
    module_spec = importlib.util.spec_from_file_location("adtl_custom_transforms", str(path))
    if module_spec is None or module_spec.loader is None:
        raise ValueError(f"Cannot load transformations from {filepath}")
    module = importlib.util.module_from_spec(module_spec)
    module_spec.loader.exec_module(module)
    return {
        name: obj
        for name, obj in inspect.getmembers(module)
        if callable(obj) and not name.startswith("_")
    }


class Parser:
    """Compile a spec once; parse any number of sources against it.

    The tables of each ``parse*`` call are cached on their first consumer
    (``build_report()``, ``save()``, ``table()``, ``read_table()`` or a
    ``write_*``), so all consumers share one run of each table's plan
    (source scan, rules, groupBy, validator).  A parse whose tables are
    only read through ``data`` caches nothing.  The cache sits below the
    row-order sort: the report reads it unsorted, and every ordered
    consumer sorts on top of it.  Every non-constant table of a batch
    parse is cached: a constant table is one literal row, and a streaming
    table cannot be.  A row-local table (oneToOne, oneToMany) of an
    unspread single-file or non-file source (a small uncompressed CSV, a
    ``parse_rows`` list) needs no sort at all: it is built narrow over the
    scan, so its cached partitions hold its rows in file order already
    (see ``plans.tables``).
    The Parser owns the cache and releases it on the next ``parse*``, on
    ``close()`` (or leaving a ``with`` block), and when it is
    garbage-collected; tables obtained before then stay valid and
    recompute from the source.  Spark keys its cache by plan: two Parsers
    of one spec over one source share the entries, and releasing either
    drops them for both (results stay correct; the other's tables then
    recompute).
    ``ordered_output=False`` skips the sort (a global range exchange) for
    pipelines that need no row-order parity with the reference.
    """

    def __init__(
        self,
        spec: str | Path | StrDict,
        include_defs: list[str] | None = None,
        include_transform: str | Path | None = None,
        spark: SparkSession | None = None,
        quiet: bool = True,
        verbose: bool = False,
        ordered_output: bool = True,
    ) -> None:
        self.spec = CompiledSpec(spec, include_defs=include_defs)
        self.name = self.spec.name
        self.tables = self.spec.tables
        self.fieldnames = self.spec.fieldnames
        self.custom_transforms = (
            load_custom_transformations(include_transform) if include_transform else {}
        )
        self.spark = spark or get_spark()
        self.ordered_output = ordered_output
        self.data: dict[str, DataFrame] = {}
        # each table before the row-order sort, order keys still as columns
        self._unsorted: dict[str, DataFrame] = {}
        self._uncached: list[DataFrame] = []  # cached on the first consumer
        self._cached: list[DataFrame] = []
        weakref.finalize(self, _unpersist_all, self._cached).atexit = False
        self.report: dict[str, Any] = {}
        self.report_available = False

    def __enter__(self) -> "Parser":
        return self

    def __exit__(self, *exc: object) -> None:
        self.close()

    def close(self) -> None:
        """Release the cached tables of the last ``parse*`` call; later
        consumers recompute them from the source."""
        self._uncached.clear()
        _unpersist_all(self._cached)

    # ------------------------------------------------------------------ parse

    def parse(
        self, file: str | Path, encoding: str = "UTF-8", skip_validation: bool = False
    ) -> "Parser":
        source = read_source(self.spark, str(file), encoding=encoding)
        return self._run(source, skip_validation)

    def parse_rows(
        self,
        rows: Iterable[StrDict],
        file_name: str = "",
        skip_validation: bool = False,
    ) -> "Parser":
        source = dataframe_from_rows(self.spark, rows)
        return self._run(source, skip_validation)

    def parse_dataframe(
        self, source: DataFrame, skip_validation: bool = False
    ) -> "Parser":
        """Spark-native entry: parse an existing DataFrame (columns are cast
        to string by the rule compiler).  This is also the streaming entry:
        over a streaming source the row-local tables (oneToOne, oneToMany)
        are streaming DataFrames, ready for ``writeStream``; the constant
        tables are left out, and a groupBy table raises
        ``StreamingUnsupportedError`` (see ``plans.tables``).  A streaming
        parse has no report: ``report_available`` is False and
        ``build_report()`` raises ``StreamingUnsupportedError``."""
        return self._run(source, skip_validation)

    def _run(self, source: DataFrame, skip_validation: bool) -> "Parser":
        self.close()
        tables = build_all_tables(
            self.spec, source, self.spark, self.custom_transforms
        )
        if not skip_validation:
            tables = {
                name: annotate_validation(self.spec, name, df)
                for name, df in tables.items()
            }
        self._unsorted = tables
        self._uncached = [
            df
            for name, df in tables.items()
            if self.tables[name].get("kind") != "constant" and not df.isStreaming
        ]
        self.data = {
            name: in_row_order(df, self.ordered_output) for name, df in tables.items()
        }
        self.report_available = not (skip_validation or source.isStreaming)
        return self

    def _cache(self) -> None:
        """Register the last parse's tables in Spark's cache, once.  Runs in
        every consumer, so a parse that is never consumed pays no cache
        planning."""
        while self._uncached:
            self._cached.append(self._uncached.pop().persist())

    # ------------------------------------------------------------------ sinks

    def table(self, table: str) -> DataFrame:
        if table not in self.data:
            raise ValueError(f"Invalid table name: {table}")
        self._cache()
        return self.data[table]

    def read_table(self, table: str, typed: bool = True) -> Iterable[StrDict]:
        """Row dicts with null keys removed — the reference's read_table
        idiom (parser.py:764-776).  ``typed=True`` re-parses canonical
        strings back to Python dynamic values (int/float/bool) so golden
        tests can compare against the reference's expected rows."""
        df = self.table(table)
        for row in df.collect():
            d = row.asDict(recursive=True)
            out = {}
            for k, v in d.items():
                if v is None:
                    continue
                out[k] = decode(v) if typed else v
            yield out

    def write_csv(self, table: str, output: str | None = None) -> str | None:
        df = self.table(table)
        ordered = self._output_columns(table, df)
        return write_csv_single(df.select(*ordered), output)

    def write_parquet(
        self,
        table: str,
        output: str,
        bucket_by: list[str] | None = None,
        n_buckets: int = 32,
        sort_by: list[str] | None = None,
    ) -> None:
        """Parquet sink.  ``bucket_by`` persists the table bucketed (and
        optionally sorted) on those columns via the session catalog —
        downstream joins/aggregations on the bucket key then plan with no
        exchange (see sources/io.py:write_bucketed)."""
        if self.spec.return_unmatched:
            # returnUnmatched produces mixed-type cells; the reference
            # refuses parquet for the same reason (python_interface.py:52-53)
            raise ValueError(
                "returnUnmatched specs produce mixed-type columns and cannot "
                "be written to parquet"
            )
        df = self.table(table)
        out = df.select(*self._output_columns(table, df))
        if bucket_by:
            from adtl_spark.sources.io import write_bucketed

            write_bucketed(
                out, f"{self.name}_{table}", output, bucket_by, n_buckets, sort_by
            )
            return
        write_parquet(out, output)

    def _output_columns(self, table: str, df: DataFrame) -> list[str]:
        cols = []
        if "adtl_valid" in df.columns:
            cols += ["adtl_valid", "adtl_error"]
        cols += [c for c in self.fieldnames[table] if c in df.columns]
        cols += [
            c
            for c in df.columns
            if c not in cols and c not in ("adtl_valid", "adtl_error")
        ]
        return cols

    def save(self, output: str | None = None, format: str = "csv") -> None:
        """Write every table to ``{output}-{table}.{format}``, all tables at
        once: one thread per table, each in the caller's job group.  Waits
        for every write, then re-raises the first failed table's error."""
        writers = {"parquet": self.write_parquet, "csv": self.write_csv}
        if format not in writers:
            raise ValueError(f"'Parser.save()': Invalid format: {format}")
        self._cache()
        errors: dict[str, BaseException] = {}

        def run(table: str) -> None:
            try:
                writers[format](table, f"{output}-{table}.{format}")
            except BaseException as e:
                errors[table] = e

        threads = [InheritableThread(run, args=(t,)) for t in self.tables]
        for thread in threads:
            thread.start()
        for thread in threads:
            thread.join()
        for table in self.tables:
            if table in errors:
                raise errors[table]

    def conflicts(self, table: str, source: DataFrame | None = None) -> DataFrame:
        """Verbose-mode overwrite summary for a groupBy table: attributes
        where lastNotNull silently overwrote conflicting values, with the
        number of affected groups (reference warns per row;
        parser.py:603-614)."""
        from adtl_spark.plans.compiler import RuleCompiler
        from adtl_spark.plans.tables import attach_row_id, group_conflicts

        if source is None:
            raise ValueError("conflicts() needs the source DataFrame")
        if not self.tables[table].get("groupBy"):
            raise ValueError(f"table {table!r} is not a groupBy table")
        compiler = RuleCompiler(
            self.spec, source.columns, self.custom_transforms,
            dtypes=dict(source.dtypes),
        )
        return group_conflicts(self.spec, table, attach_row_id(source)[0], compiler)

    # ----------------------------------------------------------------- report

    def build_report(self) -> dict[str, Any]:
        if any(df.isStreaming for df in self._unsorted.values()):
            raise StreamingUnsupportedError(
                "a streaming parse has no validation report: its tables "
                "are unbounded; write them with writeStream instead"
            )
        # counts need no row order: group the cached tables, no sort
        self._cache()
        self.report = validation_report(self._unsorted)
        return self.report

    def show_report(self) -> None:
        if not self.report_available:
            return
        print_report(self.build_report())

    # ------------------------------------------------------------------ check

    def check_spec_fields(self, file: str | Path) -> tuple[set, set]:
        """V4 spec<->data field check (reference: parser.py:915-932)."""
        df = read_csv_source(self.spark, str(file))
        file_fields = set(df.columns)
        spec_fields = self.spec.spec_fields()
        return file_fields - spec_fields, spec_fields - file_fields


def _unpersist_all(frames: list[DataFrame]) -> None:
    """Unpersist and forget every frame in ``frames``.  Also runs when its
    Parser is garbage-collected, possibly after the frame's SparkContext
    has stopped: that context holds nothing left to release."""
    while frames:
        df = frames.pop()
        if df.sparkSession.sparkContext is SparkContext._active_spark_context:
            df.unpersist()


def parse(
    spec: str | Path | StrDict,
    file: str | Path,
    encoding: str = "UTF-8",
    include_defs: list[str] | None = None,
    include_transform: str | Path | None = None,
    save_as: str | None = None,
    output: str | None = None,
    spark: SparkSession | None = None,
):
    """One-shot API: returns ``{table: pyspark DataFrame}`` (the reference
    returns pandas DataFrames, python_interface.py:14-59; ``.toPandas()``
    restores that shape)."""
    parser = Parser(
        spec,
        include_defs=include_defs,
        include_transform=include_transform,
        spark=spark,
    ).parse(file, encoding=encoding)
    if save_as:
        parser.save(output or parser.name, format=save_as)
    return parser.data


def parse_rows(
    spec: str | Path | StrDict,
    rows: Iterable[StrDict],
    spark: SparkSession | None = None,
):
    parser = Parser(spec, spark=spark).parse_rows(rows)
    return parser.data


def print_report(report: dict[str, Any]) -> None:
    """Print a validation report as the reference's markdown summary."""
    print("\n|table       \t|valid\t|total\t|percentage_valid|")
    print("|---------------|-------|-------|----------------|")
    for table, total in report["total"].items():
        valid = report["total_valid"][table]
        pct = (valid / total * 100) if total else 0.0
        print(f"|{table:14s}\t|{valid}\t|{total}\t|{pct:.6f}% |")
    for table, errors in report["validation_errors"].items():
        if not errors:
            continue
        print(f"\n## {table}\n")
        for message, count in sorted(errors.items(), key=lambda kv: -kv[1]):
            print(f"* {count}: {message}")


def validate_specification(spec: str | Path | StrDict) -> None:
    """Validate a parser specification without running it (reference:
    python_interface.py:62-72).  Raises pydantic ``ValidationError`` on a
    malformed document, returns None when valid."""
    from adtl_spark.model import validate_document
    from adtl_spark.spec import read_spec_file

    if isinstance(spec, (str, Path)):
        spec = read_spec_file(spec)
    validate_document(spec)


def check_mapping(
    spec: str | Path | StrDict,
    data: str | Path | None = None,
    spark: SparkSession | None = None,
) -> None:
    """Validate a spec and, given a data file, cross-check its ``field``
    references against the data's columns (reference:
    python_interface.py:75-103): fields named in the spec but absent from
    the data raise ``ValueError``; data columns the spec never maps raise a
    ``UserWarning``.  As in the reference, fields used only as ``if``
    condition keys are not resolved and may be reported as missing."""
    import warnings

    validate_specification(spec)
    if data is None:
        return
    missing, absent = Parser(spec, spark=spark).check_spec_fields(data)
    if absent:
        listing = "\n".join(f" - {field}" for field in sorted(absent))
        raise ValueError(
            f"There are {len(absent)} fields present in your spec file, "
            f"but not in the dataset:\n{listing}"
        )
    if missing:
        listing = "\n".join(f" - {field}" for field in sorted(missing))
        warnings.warn(
            f"There are {len(missing)} fields missing from your spec file:\n{listing}",
            UserWarning,
        )
