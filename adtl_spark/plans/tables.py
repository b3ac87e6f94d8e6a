"""Table materializers: one DataFrame plan per target table.

Reference execution walks every table spec per source row
(src/adtl/parser.py:685-732); here each table kind becomes one declarative
plan over the source DataFrame:

- ``constant``  -> one row of literals, one partition (parser.py:536-537)
- ``oneToOne``  -> one ``select`` of compiled rules
- ``groupBy``   -> ``groupBy(key).agg(...)`` with order-aware aggregates
                   reproducing lastNotNull / applyCombinedType semantics
                   (parser.py:551-637)
- ``oneToMany`` -> ONE scan: array-of-structs -> filter -> explode
                   (vs. parser.py:516-535 which evaluates every block per
                   row).  A union of per-block filters would rescan the
                   source once per block; the explode form is a single
                   narrow pass and preserves the reference's
                   (row, block-index) output order.

File-order semantics: ``lastNotNull``/``firstNonNull``/``list`` depend on
source row order (parser.py:590, 615).  A row id is captured at read time,
before any shuffle: a plain monotonic id for single-file/non-file sources,
and a split-rank id for globbed multi-file reads (see ``attach_row_id``) —
the reference reads exactly one CSV, so the multi-file order is this
engine's extension, defined as sorted-path order.

A small uncompressed CSV source is not spread across cores (see
``SPREAD_MIN_BYTES``): its tables run narrow over the scan.  A row-local
table (oneToOne, oneToMany) built over an unspread source with a plain
monotonic id is in file order by construction, partition by partition, so
it carries no order keys.  Every other table keeps its order keys
(``ORDER_KEYS``) as columns: groupBy tables, and the row-local tables of a
spread or multi-file source.  Tables do not sort themselves:
``in_row_order`` sorts on the keys and drops them, and ``api.Parser``
applies it on top of its cached tables, so consumers that need no order
(the validation report) read the tables without a sort, and place rows
with ``row_position``.
"""

from __future__ import annotations

from typing import Any, Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from adtl_spark.functions import render as R
from adtl_spark.functions import sql as S
from adtl_spark.plans.compiler import RuleCompiler, Stage, Value, truthy
from adtl_spark.session import scan_parallel
from adtl_spark.spec import CompiledSpec

ROW_ID = "__adtl_row_id__"
ROW_POS = "__adtl_row_pos__"  # oneToMany: the block's position within its row
ORDER_KEYS = (ROW_ID, ROW_POS)
_ROW_ID = S.ident(ROW_ID)
_ROW_SEQ = "__adtl_pos__"  # row_position of a frame without order keys


class StreamingUnsupportedError(ValueError):
    """A spec table with no streaming shape was compiled over a stream."""


_CTR_MASK = (1 << 33) - 1  # monotonic id: partition index << 33 | counter

# Planned size (plan statistics, no job) under which an uncompressed CSV
# source runs its rules narrow over the scan instead of being spread across
# cores: fewer tasks, and no exchange for the row-local tables to undo with
# a row-order sort.  Warm study passes (tools/profile_query.py --study, one
# uncompressed CSV file, 4-core host), narrow against spread, median of 3
# alternated pairs:
#   subjects    5k    10k   12k   14k   17k   20k   100k
#   CSV MB      1.07  2.14  2.57  3.0   3.6   4.3   21.4
#   splits      1     1     1     1     1     2     4
#   narrow     -8%   -5%   +8%   +5%   +15%  +15%  -7%
# The crossover is between 2.1 and 2.6 MB; a source with as many splits as
# cores is parallel without the spread, but at 2 MiB and above the spread
# is kept.  At 2 cores narrow measured +3%, -6%, -5% at 5k, 10k, 12k:
# the spread gains less on fewer cores.  More than 4 cores is unmeasured.
# Only uncompressed CSV was measured: parquet, JSON and compressed CSV
# report compressed or differently encoded bytes, which say little about
# the rows the rules run over, so those sources keep the spread (see
# ``_runs_narrow``).
SPREAD_MIN_BYTES = 2 << 20


def _file_splits(df: DataFrame) -> list[tuple[int, str, int]] | None:
    """(partition index, file path, byte offset) for every split of a
    file-source DataFrame — DRIVER-ONLY introspection of the planned
    ``FilePartition``s, no Spark job.  Narrow transformations reuse the
    scan's partition objects, so this works on a projected df too.
    Returns None when the plan has no file-partitioned scan."""
    try:
        out: list[tuple[int, str, int]] = []
        for part in df._jdf.rdd().partitions():
            pid = part.index()
            for f in part.files():
                out.append((pid, str(f.filePath()), int(f.start())))
        return out or None
    except Exception:
        return None


def attach_row_id(df: DataFrame) -> tuple[DataFrame, bool]:
    """``df`` with its file-order row id, and whether that id is the plain
    ``monotonically_increasing_id`` (see ``_split_rank_id``).  Must run
    before any shuffle."""
    rank_id = _split_rank_id(df)
    if rank_id is None:
        return df.withColumn(ROW_ID, F.monotonically_increasing_id()), True
    return df.withColumn(ROW_ID, rank_id), False


def _split_rank_id(df: DataFrame) -> Column | None:
    """Stable per-row LONG id capturing the file order of a multi-file
    read, or None when the plain ``monotonically_increasing_id`` already
    does: a single file (or a non-file source), whose splits Spark orders
    by offset.

    Multi-file reads need more: Spark packs splits into partitions ordered
    by SIZE, not path, so the raw id interleaves files.  The driver
    enumerates the planned splits (``_file_splits`` — plan introspection,
    zero jobs, zero extra scan), ranks them by (path, byte offset), and
    the id becomes ``split_rank << 33 | in-partition counter``:

    - only ORDER matters to every consumer (orderBy / min / max_by /
      array_sort), so ranks replace row-exact offsets and no row counting
      is needed;
    - the counter (low 33 bits of the monotonic id) keeps ascending across
      the splits of a packed partition, which preserves in-split order —
      the rank's high bits dominate between splits;
    - the id stays a plain LONG: a struct id measured ~4x slower through
      the groupBy aggregate path (struct ordering largely escapes
      codegen), and reading the ``_metadata`` column knocks the parquet
      reader off its vectorized path — both avoided.

    Per-row cost in the common (one split per partition) case is one
    ``element_at`` into a constant-folded array literal indexed by
    partition id.  Partitions packing several small files key their rows
    by (pid, file, offset) instead — only those rows pay for
    ``input_file_name``.  "File order" for a glob is defined as
    sorted-path order, each file in its own row order.
    """
    try:
        files = df.inputFiles()
    except Exception:
        files = []
    if len(files) <= 1:
        return None
    splits = _file_splits(df)
    if not splits:
        return None

    ranked = sorted(splits, key=lambda s: (s[1], s[2]))
    rank_of = {key: i for i, key in enumerate(ranked)}
    pid_splits: dict[int, int] = {}
    for pid, _, _ in splits:
        pid_splits[pid] = pid_splits.get(pid, 0) + 1
    multi_pids = sorted(p for p, c in pid_splits.items() if c > 1)

    # dense pid -> rank array (rank -1 marks packed partitions)
    n_pid = max(p for p, _, _ in splits) + 1
    by_pid = [-1] * n_pid
    for (pid, fp, b), r in ((k, rank_of[k]) for k in splits):
        if pid not in multi_pids:
            by_pid[pid] = r
    pid_rank = F.element_at(
        F.array(*[F.lit(r).cast("long") for r in by_pid]),
        F.spark_partition_id() + 1,
    )

    ctr = F.monotonically_increasing_id().bitwiseAND(F.lit(_CTR_MASK))
    if multi_pids:
        pairs: list[Column] = []
        for key, r in rank_of.items():
            if key[0] in multi_pids:
                pairs += [F.lit(f"{key[0]}|{key[1]}|{key[2]}"), F.lit(r).cast("long")]
        full_key = F.concat_ws(
            "|",
            F.spark_partition_id().cast("string"),
            F.input_file_name(),
            F.input_file_block_start().cast("string"),
        )
        full_rank = F.create_map(*pairs)[full_key]
        rank = F.when(pid_rank >= 0, pid_rank).otherwise(full_rank)
    else:
        rank = pid_rank
    # NO null-fallback wrapper here: rank can only be null if the executed
    # split layout diverges from the introspected plan (which would void
    # the ordering guarantee anyway), and a Coalesce over the
    # non-deterministic spark_partition_id was measured to keep the whole
    # query ~2.3x slower on every run (it pins the generated code on a
    # permanently-deoptimized path; without it the same plan JITs to the
    # plain-id speed after the first run)
    return F.shiftleft(rank, 33).bitwiseOR(ctr)


def order_keys(df: DataFrame) -> list[str]:
    """The order-key columns ``df`` carries, in sort order: sorting on them
    gives the reference's row order (file order; groups in first-encounter
    order; a oneToMany row's blocks in spec order)."""
    return [k for k in ORDER_KEYS if k in df.columns]


def in_row_order(df: DataFrame, ordered: bool = True) -> DataFrame:
    """``df`` without its order-key columns, sorted on them first when
    ``ordered`` (a global range exchange).  A frame without order keys is
    returned as it is: a row-local table built narrow is in row order
    already, and a constant table is one row."""
    keys = order_keys(df)
    if keys and ordered:
        df = df.orderBy(*keys)
    return df.drop(*keys)


def row_position(df: DataFrame) -> tuple[DataFrame, Column]:
    """``df`` and each row's position in output order, as one
    ``decimal(38,0)``: the row id and the block position packed together
    (a min over it stays a hash aggregate; over a struct it plans a sort
    aggregate).  A frame without order keys is in output order partition
    by partition (a row-local table built narrow, a sorted frame, or a
    constant table's one row), so a monotonic id column stands for them."""
    keys = order_keys(df)
    if not keys:
        df = df.withColumn(_ROW_SEQ, F.monotonically_increasing_id())
        keys = [_ROW_SEQ]
    pos = F.col(keys[0]).cast("decimal(38,0)") * F.lit(1 << 32)
    if len(keys) > 1:
        pos = pos + F.col(keys[1])
    return df, pos


def _runs_narrow(df: DataFrame) -> bool:
    """Whether a batch source's rules run narrow over its scan: an
    uncompressed CSV file source (every input file named ``*.csv``; Spark
    picks a codec by the file suffix) whose optimized plan estimates it
    under ``SPREAD_MIN_BYTES`` (plan statistics, no job)."""
    files = df.inputFiles()
    if not files or not all(f.lower().endswith(".csv") for f in files):
        return False
    stats = df._jdf.queryExecution().optimizedPlan().stats()
    return int(stats.sizeInBytes()) < SPREAD_MIN_BYTES


def build_all_tables(
    spec: CompiledSpec,
    df: DataFrame,
    spark: SparkSession,
    custom_transforms: dict[str, Callable] | None = None,
) -> dict[str, DataFrame]:
    """One unsorted plan per table, over a batch or a streaming source.

    A batch source gets its row id.  A small uncompressed CSV source
    (``_runs_narrow``) then runs every table narrow over the scan; any
    other source goes through ``scan_parallel``, which spreads it across
    all cores when its scan has few files.  A groupBy table carries its
    ``order_keys`` columns, and so does a row-local table unless it is
    built over an unspread source with a plain monotonic row id: then its
    partitions hold its rows in file order already.  Sorting on the keys
    restores the reference's row order, at the cost of a global range
    exchange that consumers which need no order can skip.  A streaming
    source has no file order: its tables carry no order keys, the constant
    tables are left out (one literal row has no streaming shape), and a
    groupBy table raises ``StreamingUnsupportedError`` (its file-order
    aggregates would need unbounded state)."""
    compiler = RuleCompiler(
        spec, df.columns, custom_transforms, dtypes=dict(df.dtypes)
    )
    streaming = df.isStreaming
    out: dict[str, DataFrame] = {}
    keyed = False  # whether the row-local tables carry order keys
    if not streaming:
        narrow = _runs_narrow(df)
        # row id BEFORE any exchange: it encodes file order
        df, plain_id = attach_row_id(df)
        # the rule projection is the engine's hot loop: on a large source
        # it must not run on one task just because the file has one split.
        # Hashing on the unique row id avoids round-robin's defensive
        # pre-shuffle sort.  scan_parallel hands back ``df`` itself when it
        # does not spread (no input files, or enough of them).
        spread = df if narrow else scan_parallel(df, by=F.col(ROW_ID))
        keyed = spread is not df or not plain_id
        df = spread
    for table, meta in spec.tables.items():
        kind = meta.get("kind")
        if kind == "constant":
            if not streaming:
                out[table] = _constant_table(spec, table, spark)
        elif kind == "oneToMany":
            out[table] = _one_to_many_table(spec, table, df, compiler, keyed)
        elif meta.get("groupBy"):
            if streaming:
                raise StreamingUnsupportedError(
                    f"table {table!r}: groupBy tables need unbounded state "
                    "(lastNotNull over all history) and cannot stream; run batch"
                )
            out[table] = _group_by_table(spec, table, df, compiler)
        else:
            out[table] = _one_to_one_table(spec, table, df, compiler, keyed)
    return out


def _schema_type(spec: CompiledSpec, table: str, attr: str) -> Any:
    schema = spec.schemas.get(table)
    if not schema:
        return None
    prop = schema.get("properties", {}).get(attr)
    if isinstance(prop, dict):
        return prop.get("type")
    return None


def _constant_table(spec: CompiledSpec, table: str, spark: SparkSession) -> DataFrame:
    """Literal ``string`` columns over a one-row range: one partition, one
    task, and no local rows for Python workers to unpickle.  The spec model
    admits only scalar constants."""
    row = {k: R.render_literal(v) for k, v in spec.table_specs[table].items()}
    # CASE WHEN over the range's id keeps the columns nullable, like every
    # other table's; a bare literal would be planned (and written) NOT NULL
    return spark.range(1, numPartitions=1).selectExpr(
        *[
            S.alias(S.when("(`id` = 0)", S.cast(S.lit(row.get(f)), "STRING")), f)
            for f in spec.fieldnames[table]
        ]
    )


def _wide_cell(value: Value) -> str:
    """Wide-table cells drop empty lists (parser.py:547: ``value != []``)."""
    if value.is_array:
        return S.when(f"({S.call('size', value.sql)} > 0)", value.sql)
    return value.sql


def _one_to_one_table(
    spec: CompiledSpec, table: str, df: DataFrame, compiler: RuleCompiler, keyed: bool
) -> DataFrame:
    stage = Stage()
    cols = []
    for attr in spec.fieldnames[table]:
        rule = spec.table_specs[table][attr]
        value = compiler.compile_value(
            rule, attr, _schema_type(spec, table, attr), stage=stage
        )
        cols.append(S.alias(_wide_cell(value), attr))
    keys = [_ROW_ID] if keyed else []
    return stage.apply(df).selectExpr(*keys, *cols)


# ---------------------------------------------------------------- groupBy kind


def _group_rows(
    spec: CompiledSpec, table: str, df: DataFrame, compiler: RuleCompiler
) -> tuple[DataFrame, dict[str, Value]]:
    """A groupBy table's rows before grouping: the row id and one cell per
    attribute, with the compiled value of each attribute."""
    stage = Stage()
    values: dict[str, Value] = {}
    row_cols = [_ROW_ID]
    for attr, rule in spec.table_specs[table].items():
        v = compiler.compile_value(
            rule, attr, _schema_type(spec, table, attr), stage=stage
        )
        values[attr] = v
        row_cols.append(S.alias(_wide_cell(v), attr))
    return stage.apply(df).selectExpr(*row_cols), values


def _group_by_table(
    spec: CompiledSpec, table: str, df: DataFrame, compiler: RuleCompiler
) -> DataFrame:
    meta = spec.tables[table]
    group_field = meta["groupBy"]
    aggregation = meta.get("aggregation")
    table_spec = spec.table_specs[table]
    projected, values = _group_rows(spec, table, df, compiler)

    aggs = [F.expr(S.alias(S.call("min", _ROW_ID), ROW_ID))]
    for attr, v in values.items():
        if attr == group_field:
            continue
        rule = table_spec[attr]
        combined = (
            rule.get("combinedType")
            if isinstance(rule, dict) and aggregation == "applyCombinedType"
            else None
        )
        aggs.append(F.expr(S.alias(_aggregate_attr(attr, v, combined), attr)))

    # a group's first row id orders groups by first encounter (file order)
    # — the reference's insertion-ordered dict yields exactly this
    # (parser.py:619-637)
    grouped = projected.groupBy(group_field).agg(*aggs)
    others = [S.ident(a) for a in values if a != group_field]
    return grouped.selectExpr(_ROW_ID, S.ident(group_field), *others)


def _aggregate_attr(attr: str, value: Value, combined: str | None) -> str:
    """One aggregate expression reproducing group_attrs semantics
    (parser.py:559-617) for a single attribute."""
    col = S.ident(attr)
    if value.is_array:
        valid = S.and_(S.is_not_null(col), f"({S.call('size', col)} > 0)")
    else:
        valid = S.and_(S.is_not_null(col), f"({col} != '')")
    cell = S.when(valid, col)  # nulls are ignored by all aggregates below
    rid = S.when(valid, _ROW_ID)

    if combined in ("all", "any"):
        # truthiness only over valid cells — null must stay null so the
        # bool_and/bool_or aggregate ignores it instead of folding False
        flag = S.when(S.is_not_null(cell), truthy(cell, value.type_hint))
        return R.render_bool(S.call("bool_and" if combined == "all" else "bool_or", flag))
    if combined in ("min", "max"):
        return _dynamic_min_max(cell, value, combined, rid)
    has_valid = f"({S.call('count', cell)} > 0)"
    if combined == "set":
        flat = S.call("flatten", S.call("collect_list", cell))
        return S.when(has_valid, S.call("array_sort", S.call("array_distinct", flat)))
    if combined == "list":
        keyed = S.when(valid, S.named_struct([("rid", _ROW_ID), ("v", col)]))
        ordered = S.call("array_sort", S.call("collect_list", keyed))
        values = S.call("transform", ordered, f"__s -> {S.field('__s', 'v')}")
        return S.when(has_valid, S.call("flatten", values))
    if combined == "firstNonNull":
        return S.call("min_by", col, rid)
    # default: lastNotNull — keep the last valid value in file order
    # (A2; reference warns on conflicting overwrites, parser.py:603-614)
    return S.call("max_by", col, rid)


def group_conflicts(
    spec: CompiledSpec, table: str, df: DataFrame, compiler: RuleCompiler
) -> DataFrame:
    """Verbose-mode overwrite detection (reference: parser.py:603-614 warns
    per group when a lastNotNull attribute has conflicting values).  Spark
    shape: one aggregation over the table's rows before grouping
    (``df`` carries the row id), returning, per attribute, how many groups
    carry more than one distinct value — the actionable summary instead
    of a per-row warning stream."""
    group_field = spec.tables[table]["groupBy"]
    plain_attrs = [
        attr
        for attr, rule in spec.table_specs[table].items()
        # combinedType attrs fold by design; only plain attrs can clash
        if attr != group_field and not (isinstance(rule, dict) and "combinedType" in rule)
    ]
    schema = "attribute string, n_conflicting_groups long"
    if not plain_attrs:
        return df.sparkSession.createDataFrame([], schema)
    projected, _ = _group_rows(spec, table, df, compiler)
    per_group = projected.groupBy(group_field).agg(
        *[
            F.count_distinct(F.when(F.col(a) != "", F.col(a))).alias(a)
            for a in plain_attrs
        ]
    )
    row = per_group.select(
        [F.sum((F.col(a) > 1).cast("long")).alias(a) for a in plain_attrs]
    ).collect()[0]
    rows = [(a, int(row[a] or 0)) for a in plain_attrs]
    return df.sparkSession.createDataFrame(rows, schema)


def _dynamic_min_max(cell: str, value: Value, combined: str, rid: str) -> str:
    """Python min()/max() over a group's dynamic values: numeric when every
    value parses as a number, lexicographic otherwise (ISO dates compare
    correctly either way).

    Numeric aggregation keeps the WINNING CELL's own canonical render
    (``str(min(7, 9.5))`` is ``"7"``) and breaks double-ties on the
    earliest row in file order — Python's keep-first-of-equals."""
    pick = "min" if combined == "min" else "max"

    def numeric_keep_render() -> str:
        tie = rid if pick == "min" else f"(- {rid})"
        keyed = S.when(
            S.is_not_null(cell),
            S.named_struct([("k", S.cast(cell, "DOUBLE")), ("t", tie), ("o", cell)]),
        )
        return S.field(S.call(pick, keyed), "o")

    as_long = S.cast(S.call(pick, S.cast(cell, "BIGINT")), "STRING")
    if value.type_hint == "int":
        return as_long
    if value.type_hint in ("float", "num"):
        return numeric_keep_render()
    if value.type_hint in ("str", "bool"):
        return S.call(pick, cell)
    all_int = S.call("bool_and", R.is_int_string(cell))
    all_num = S.call("bool_and", R.is_numeric_string(cell))
    return S.case(
        [(all_int, as_long), (all_num, numeric_keep_render())], S.call(pick, cell)
    )


# -------------------------------------------------------------- oneToMany kind


def _one_to_many_table(
    spec: CompiledSpec, table: str, df: DataFrame, compiler: RuleCompiler, keyed: bool
) -> DataFrame:
    blocks = spec.table_specs[table]
    fieldnames = list(spec.fieldnames[table])
    for block in blocks:  # keep any extra-schema attrs (reference keeps them)
        for attr in block:
            if attr != "if" and attr not in fieldnames:
                fieldnames.append(attr)

    # decide one static type per attr across all blocks
    compiled_blocks: list[tuple[str, dict[str, Value]]] = []
    attr_is_array: dict[str, bool] = {f: False for f in fieldnames}
    attr_mixed: dict[str, bool] = {f: False for f in fieldnames}
    seen_attr: dict[str, bool] = {f: False for f in fieldnames}
    stage = Stage()
    for block in blocks:
        pred = compiler.compile_if(block["if"])
        vals: dict[str, Value] = {}
        for attr in block:
            if attr == "if":
                continue
            v = compiler.compile_value(
                block[attr], attr, _schema_type(spec, table, attr), stage=stage
            )
            vals[attr] = v
            if seen_attr[attr] and attr_is_array[attr] != v.is_array:
                attr_mixed[attr] = True
            attr_is_array[attr] = attr_is_array[attr] or v.is_array
            seen_attr[attr] = True
        compiled_blocks.append((pred, vals))

    def cell(vals: dict[str, Value], attr: str) -> str:
        v = vals.get(attr)
        want_array = attr_is_array[attr] and not attr_mixed[attr]
        if v is None:
            return "CAST(NULL AS ARRAY<STRING>)" if want_array else S.NULL_STRING
        if attr_mixed[attr] and v.is_array:
            return R.render_array_python(v.sql)  # mixed scalar/list attr
        return v.sql

    structs = [
        S.when(pred, S.named_struct([(a, cell(vals, a)) for a in fieldnames]))
        for pred, vals in compiled_blocks
    ]
    blocks_arr = S.call("filter", S.call("array", *structs), "__b -> (__b IS NOT NULL)")
    fields = [S.alias(S.field("`__row__`", a), a) for a in fieldnames]
    if not keyed:  # explode keeps each row's blocks in spec order, in place
        exploded = stage.apply(df).selectExpr(S.alias(S.call("explode", blocks_arr), "__row__"))
        return exploded.selectExpr(*fields)
    # posexplode keeps the block position so (row, block) file order can be
    # restored by a sort
    exploded = stage.apply(df).selectExpr(
        _ROW_ID,
        f"{S.call('posexplode', blocks_arr)} AS ({S.ident(ROW_POS)}, `__row__`)",
    )
    return exploded.selectExpr(_ROW_ID, S.ident(ROW_POS), *fields)
