"""Data-dictionary creation, formatting and LLM descriptions (AP1/AP2/AP3,
S10).

- :func:`infer_dictionary` / :func:`create_dict` — AP1, the only step that
  touches the DATASET, so it is fully distributed Spark aggregation (the
  reference profiles an in-memory pandas frame, dict_writer.py:84-185).
- :func:`read_tabular` — S10 csv/xlsx/parquet ingestion for dictionaries
  and mapping files (reference util.py:28-46).  Driver-side pandas: these
  artifacts are a few hundred rows by construction.
- :func:`format_dict` — AP3, normalizes a user-provided dictionary to the
  canonical column set, lower-casing common values and parsing
  ``"1=a, 2=b"`` choices strings (reference dict_reader.py:37-172).
- :func:`generate_descriptions` — AP2, header translation via the
  pluggable LLM client with difflib repair of misspelled returns
  (reference dict_writer.py:187-249).
"""

from __future__ import annotations

from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from adtl_spark.autoparser.config import AutoparserConfig
from adtl_spark.autoparser.llm import LLMClient, close_match
from adtl_spark.functions import render as R

CANONICAL_COLUMNS = [
    "source_field",
    "source_description",
    "source_type",
    "common_values",
    "choices",
]


def read_tabular(source: Any, what: str = "file") -> pd.DataFrame:
    """csv/xlsx/parquet/DataFrame loader for dictionaries and mapping files
    (S10).  xlsx needs an engine (openpyxl); absence raises a clear error
    instead of a silent stub."""
    if isinstance(source, pd.DataFrame):
        return source
    path = str(source)
    if path.endswith(".csv"):
        return pd.read_csv(path)
    if path.endswith(".xlsx"):
        try:
            return pd.read_excel(path)
        except ImportError:
            # no excel engine in the environment: the stdlib-only reader
            # covers the plain-table dictionary case (autoparser.xlsx_lite
            # docstring scopes what it does NOT parse)
            from adtl_spark.autoparser.xlsx_lite import read_xlsx

            return read_xlsx(path)
    if path.endswith(".parquet"):
        return pd.read_parquet(path)
    raise ValueError(f"{what}: unsupported format (not CSV, XLSX or parquet): {path}")


def create_dict(
    df: DataFrame, config: AutoparserConfig | None = None
) -> pd.DataFrame:
    """AP1 in the reference's output shape: one row per column with
    Field Name / Description (empty) / Field Type / Common Values.

    Distributed: type sniffing and the common-value profile run as Spark
    aggregations — at 100 TB the dataset never reaches the driver; only the
    per-column summaries do.  Reference semantics preserved
    (dict_writer.py:107-185): common values are those repeating >1 time,
    at most ``max_common_count`` distinct; small datasets clamp the count
    to 30% of rows and apply a 5% minimum frequency (the privacy guard);
    list-ish cells are exploded before counting; all-bool value sets flip
    the column type to ``boolean``.
    """
    config = config or AutoparserConfig()
    profile = infer_dictionary(
        df,
        max_common_count=config.max_common_count,
        min_common_frequency=config.min_common_frequency,
    )
    type_map = {
        "integer": "number",
        "number": "number",
        "date": "date",
        "boolean": "boolean",
        "list": "list",
        "string": "string",
        "unknown": "string",
    }
    return pd.DataFrame(
        {
            "Field Name": [p["field"] for p in profile],
            "Description": [None] * len(profile),
            "Field Type": [type_map.get(p["type"], "string") for p in profile],
            "Common Values": [
                (
                    f"{config.choice_delimiter} ".join(str(v) for v in p["common_values"])
                    if p["common_values"]
                    else None
                )
                for p in profile
            ],
        }
    )


def infer_dictionary(
    df: DataFrame,
    max_common_count: int = 25,
    common_frac_guard: float = 0.3,
    min_common_frequency: float | None = None,
    sample_rows: int | None = None,
) -> list[dict[str, Any]]:
    """AP1: per-column profile — inferred type, null rate, common values.

    Mirrors DictWriter.create_dict semantics
    (src/adtl/autoparser/dict_writer.py:84-185): a value counts as
    "common" when it repeats (freq > 1) and at most ``max_common_count``
    distinct values qualify.  The reference's privacy guard is applied the
    same way: on datasets where ``max_common_count`` exceeds 30% of the
    rows, the cap shrinks to that 30% and a 5% minimum frequency kicks in,
    so near-unique (identifying) values are never listed.  List-ish columns
    ('[' / ',' cells) profile their exploded elements and type as list;
    boolean-only value sets type as boolean.

    Implementation is one aggregation pass for the scalar stats plus one
    grouped count per candidate column — all distributed, no driver-side
    row loops.
    """
    if sample_rows:
        df = df.limit(sample_rows)
    total = df.count()
    out: list[dict[str, Any]] = []
    if total == 0:
        return [
            {"field": c, "type": "unknown", "null_frac": 1.0, "common_values": None}
            for c in df.columns
        ]

    # reference guard (dict_writer.py:113-126): cap common count at 30% of
    # the dataset; when that bites, require 5% frequency
    capped = min(max_common_count, total * common_frac_guard)
    if capped < max_common_count:
        max_common_count = int(capped)
        min_common_frequency = min_common_frequency or 0.05
    min_count = max(1, int(total * min_common_frequency)) if min_common_frequency else 1

    stat_aggs = []
    for c in df.columns:
        s = F.col(c).cast("string")
        present = F.when(s.isNotNull() & (s != ""), s)
        stat_aggs += [
            F.count(present).alias(f"{c}__n"),
            F.count_distinct(present).alias(f"{c}__distinct"),
            F.sum(present.rlike(R.INT_REGEX).cast("int")).alias(f"{c}__ints"),
            F.sum(present.rlike(R.FLOAT_REGEX).cast("int")).alias(f"{c}__nums"),
            F.sum(
                (present.startswith("[") | present.contains(",")).cast("int")
            ).alias(f"{c}__listish"),
            F.sum(present.isin("True", "False", "true", "false").cast("int")).alias(
                f"{c}__bools"
            ),
        ]
    stats = df.agg(*stat_aggs).collect()[0]

    candidates: list[tuple[str, bool]] = []  # (column, listish)
    for c in df.columns:
        n = stats[f"{c}__n"] or 0
        n_distinct = stats[f"{c}__distinct"] or 0
        profile: dict[str, Any] = {
            "field": c,
            "null_frac": round(1 - n / total, 4),
        }
        if n == 0:
            profile["type"] = "unknown"
            profile["common_values"] = None
            out.append(profile)
            continue
        listish = (stats[f"{c}__listish"] or 0) > n * 0.5
        if stats[f"{c}__bools"] == n:
            profile["type"] = "boolean"
        elif stats[f"{c}__ints"] == n:
            profile["type"] = "integer"
        elif stats[f"{c}__nums"] == n:
            profile["type"] = "number"
        elif listish:
            profile["type"] = "list"
        else:
            profile["type"] = "string"

        profile["common_values"] = None
        if profile["type"] in ("string", "integer", "boolean", "list") and (
            0 < n_distinct <= max(max_common_count * 4, 32) or listish
        ):
            candidates.append((c, listish))
        out.append(profile)

    if candidates:
        # ONE stacked value-count pass for every candidate column (a
        # per-column count job would mean N sequential scans at 100 TB):
        # explode each row into (column, value) pairs — list-ish cells
        # into their elements (dict_writer.py:130-143) — then a single
        # groupBy + per-column top-k window
        from pyspark.sql import Window

        pair_cols = []
        for c, listish in candidates:
            s = F.col(c).cast("string")
            if listish:
                elems = F.transform(
                    F.split(F.regexp_replace(s, r"^\[|\]$", ""), ","),
                    lambda x: F.trim(x),
                )
            else:
                elems = F.array(s)
            pair_cols.append(
                F.struct(F.lit(c).alias("col"), elems.alias("vals"))
            )
        pairs = (
            df.select(F.explode(F.array(*pair_cols)).alias("p"))
            .select(F.col("p.col").alias("col"), F.explode("p.vals").alias("v"))
            .filter(F.col("v").isNotNull() & (F.col("v") != ""))
        )
        ranked = (
            pairs.groupBy("col", "v")
            .agg(F.count(F.lit(1)).alias("n"))
            .filter(F.col("n") > F.lit(max(1, min_count)))
            .withColumn(
                "rk",
                F.row_number().over(
                    Window.partitionBy("col").orderBy(F.col("n").desc(), F.col("v"))
                ),
            )
            .filter(F.col("rk") <= max_common_count + 1)
            .collect()
        )
        by_col: dict[str, list[tuple[int, str]]] = {}
        for r in ranked:
            by_col.setdefault(r["col"], []).append((r["rk"], r["v"]))
        profiles = {p["field"]: p for p in out}
        for c, _ in candidates:
            values = [v for _, v in sorted(by_col.get(c, []))]
            if values and len(values) <= max_common_count:
                profiles[c]["common_values"] = values
    return out


def format_dict(
    data_dict: Any, config: AutoparserConfig | None = None
) -> pd.DataFrame:
    """AP3: normalize a user dictionary to the canonical columns.

    Renames per ``config.column_mappings``, lower-cases and de-duplicates
    ``common_values`` strings into lists, and parses ``choices`` strings of
    the form ``"1=alive, 2=dead"`` into dicts (the piece VERDICT flagged as
    having no equivalent; reference dict_reader.py:45-82)."""
    config = config or AutoparserConfig()
    dd = read_tabular(data_dict, "data dictionary").copy()
    renames = {v: k for k, v in config.column_mappings.items()}
    dd = dd.rename(columns=renames)
    dd = dd.loc[:, dd.columns.isin(CANONICAL_COLUMNS)]
    if "source_field" not in dd.columns:
        raise ValueError(
            "data dictionary needs a source_field column (check column_mappings)"
        )
    if "common_values" in dd.columns:

        def _split(x: Any) -> list[str] | None:
            if not isinstance(x, str):
                return None
            return sorted({y.strip().lower() for y in x.split(config.choice_delimiter)})

        dd["common_values"] = dd["common_values"].apply(_split)
    elif "choices" in dd.columns:

        def _parse(x: Any) -> dict[str, str] | None:
            if not isinstance(x, str):
                return None
            options: dict[str, str] = {}
            for part in x.split(config.choice_delimiter):
                k, sep, v = part.partition(config.choice_delimiter_map)
                if not sep:
                    return None
                options[k.strip()] = v.strip()
            return options or None

        dd["choices"] = dd["choices"].apply(_parse)
    else:
        raise ValueError(
            "data dictionary needs a common_values or choices column"
        )
    return dd


def generate_descriptions(
    data_dict: Any,
    client: LLMClient,
    config: AutoparserConfig | None = None,
) -> pd.DataFrame:
    """AP2: fill the description column via the LLM client, with difflib
    repair when the model returns a slightly-different header string
    (reference dict_writer.py:187-249)."""
    config = config or AutoparserConfig()
    dd = read_tabular(data_dict, "data dictionary").copy()
    renames = {v: k for k, v in config.column_mappings.items()}
    dd = dd.rename(columns=renames)
    headers = [str(h) for h in dd["source_field"]]
    raw = client.get_definitions(headers, config.language)
    descriptions: dict[str, str] = {}
    for returned, translation in raw.items():
        original = (
            returned if returned in headers else close_match(returned, headers)
        )
        if original is None:
            raise ValueError(
                f"LLM returned field {returned!r} matching no dictionary header"
            )
        descriptions[original] = translation
    dd["source_description"] = [descriptions.get(h) for h in headers]
    # back to the user-facing column names (Field Name / Description / ...)
    return dd.rename(columns=dict(config.column_mappings))
