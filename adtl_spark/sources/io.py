"""Sources and sinks.

S1 CSV source: header row, every column StringType (CSV cells are strings in
the reference's data model, src/adtl/parser.py:653-654).  S2 NA
normalization (header ``emptyFields``) is applied lazily by the rule
compiler so it participates in pushdown rather than forcing an eager
rewrite pass.

Sinks: distributed ``df.write`` for scale; single-file driver-side variants
for bit-compat with the reference's csv.DictWriter output
(parser.py:778-843).
"""

from __future__ import annotations

import io as _io
from typing import Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from adtl_spark.functions import render as R
from adtl_spark.functions import sql as S
from adtl_spark.spec import StrDict


def read_csv_source(
    spark: SparkSession, path: str, encoding: str = "UTF-8"
) -> DataFrame:
    """All-string CSV read; no schema inference (S1).  Accepts globs /
    directories; with multiple input files the captured row order follows
    Spark's file-split ordering (documented multi-file caveat — the
    reference reads exactly one file)."""
    df = (
        spark.read.option("header", True)
        .option("inferSchema", False)
        .option("encoding", encoding)
        .option("mode", "PERMISSIVE")
        .csv(path)
    )
    # utf-8-sig parity (the reference's default encoding): a BOM survives
    # into the first header name under plain UTF-8 reads
    first = df.columns[0] if df.columns else None
    if first and first.startswith("﻿"):
        df = df.withColumnRenamed(first, first.lstrip("﻿"))
    return df


def read_source(
    spark: SparkSession, path: str, encoding: str = "UTF-8"
) -> DataFrame:
    """Source dispatch by extension — the engine's Spark-first extension of
    S1: json-lines and parquet sources work with the same specs (every
    column is stringified by the rule compiler)."""
    lower = path.lower()
    if lower.endswith(".json") or lower.endswith(".jsonl") or lower.endswith(".ndjson"):
        return spark.read.json(path)
    if lower.endswith(".parquet"):
        return spark.read.parquet(path)
    return read_csv_source(spark, path, encoding=encoding)


def dataframe_from_rows(spark: SparkSession, rows: Iterable[StrDict]) -> DataFrame:
    """S3 row-iterable source: list of dicts -> all-string DataFrame (the
    reference's parse_rows accepts any iterable of dicts,
    parser.py:667-683)."""
    rows = list(rows)
    columns: list[str] = []
    for row in rows:
        for k in row:
            if k not in columns:
                columns.append(k)
    schema = T.StructType([T.StructField(c, T.StringType()) for c in columns])
    data = [
        tuple(None if row.get(c) is None else str(row.get(c)) for c in columns)
        for row in rows
    ]
    return spark.createDataFrame(data, schema=schema)


def read_jsonl(
    spark: SparkSession, path: str, schema: T.StructType | str | None = None
) -> DataFrame:
    """JSON-Lines source (one object per line — the interchange format LLM
    corpus pipelines exchange).  Pass ``schema`` in production: schema
    inference is a full extra pass over the input, which at 100 TB doubles
    the read; an explicit schema also keeps corrupt records visible in the
    standard ``_corrupt_record`` column instead of silently widening
    types."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def write_jsonl(df: DataFrame, path: str, compression: str | None = None) -> None:
    """JSON-Lines sink: parallel part-files, arrays/structs serialized
    natively, ``compression='gzip'`` for archival interchange.  (Spark's
    json writer is line-delimited by construction — each partition writes
    one object per line.)"""
    writer = df.write.mode("overwrite")
    if compression:
        writer = writer.option("compression", compression)
    writer.json(path)


def _csv_render(df: DataFrame) -> DataFrame:
    """Render array columns as Python ``str(list)`` and booleans as
    True/False for csv.DictWriter parity."""
    cols = []
    for field in df.schema.fields:
        c = S.ident(field.name)
        if field.dataType.typeName() == "array":
            c = R.render_array_python(c)
        elif field.dataType.typeName() == "boolean":
            c = R.render_bool(c)
        else:
            c = S.cast(c, "STRING")
        cols.append(S.alias(c, field.name))
    return df.selectExpr(*cols)


def write_csv_single(df: DataFrame, output: str | None = None) -> str | None:
    """S6 bit-compat: one CSV with the reference's header ordering
    (validation columns first, then sorted field names).  Driver-side —
    intended for the golden-test scale, not 100 TB outputs."""
    pdf = _csv_render(df).toPandas()
    buf = _io.StringIO()
    pdf.to_csv(buf, index=False, lineterminator="\r\n")
    text = buf.getvalue()
    if output is None:
        return text
    with open(output, "w", newline="") as fp:
        fp.write(text)
    return None


def write_parquet(
    df: DataFrame, path: str, partition_by: list[str] | None = None
) -> None:
    """S7 parquet sink (arrays stay native ArrayType).  ``partition_by``
    enables hive-style directory partitioning — the scale path for outputs
    consumed by partition-pruned downstream scans."""
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def write_bucketed(
    df: DataFrame,
    table: str,
    path: str,
    bucket_cols: list[str],
    n_buckets: int,
    sort_cols: list[str] | None = None,
) -> DataFrame:
    """Bucketed (and optionally sorted) parquet table: the co-location
    contract for repeated big-table joins and aggregations.

    Two tables bucketed the same way on the join key joined on that key
    need NO exchange on either side — at 100 TB that removes the dominant
    shuffle from every downstream run that reuses the layout (bucket count
    should be sized so one bucket fits an executor's memory; sortBy
    additionally lets sort-merge join skip its per-task sort).  Registered
    through the session catalog because bucket metadata lives there, with
    the data at ``path``; returns the re-read catalog-backed DataFrame.

    The catalog name is sanitized to ``[A-Za-z0-9_]`` (adtl spec names
    routinely contain hyphens/dots, which are invalid SQL identifiers) and
    backtick-quoted in the DROP statement."""
    spark = df.sparkSession
    table = _sanitize_identifier(table)
    writer = (
        df.write.mode("overwrite")
        .format("parquet")
        .option("path", path)
        .bucketBy(n_buckets, *bucket_cols)
    )
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    spark.sql(f"DROP TABLE IF EXISTS `{table}`")
    writer.saveAsTable(table)
    return spark.table(table)


def _sanitize_identifier(name: str) -> str:
    """Catalog-safe identifier: non-[A-Za-z0-9_] chars become '_', with a
    leading underscore if the result would start with a digit."""
    import re

    safe = re.sub(r"[^A-Za-z0-9_]", "_", name)
    if not safe or safe[0].isdigit():
        safe = "_" + safe
    return safe


def write_training_shards(
    df: DataFrame,
    path: str,
    n_shards: int,
    key_col: str = "doc_id",
    salt: str = "shuffle",
) -> None:
    """Export the corpus as ``n_shards`` deterministic training shards:
    rows are assigned to shards by the same salted portable hash the
    epoch shuffle uses (``shard = hash DIV (space/n_shards)``), then each
    shard is written as one parquet part via a single hash repartition.

    Properties the trainer relies on: shard membership is a pure function
    of the row key (reshard-stable across runs, engines and
    partitionings — rerunning the export or appending new data never
    moves an existing row to a different shard), and within a shard rows
    are sorted by the hash, so concatenating shards 0..n-1 reproduces the
    deterministic epoch order exactly.  One exchange + per-partition
    sort; no global sort, no driver involvement."""
    from adtl_spark.operators.dedup import md5_60
    from adtl_spark.operators.sampling import HASH_SPACE

    h = md5_60(F.concat_ws("|", F.lit(salt), F.col(key_col).cast("string")))
    shard_width = HASH_SPACE // n_shards
    staged = df.withColumn("__h__", h).withColumn(
        "__shard__", F.expr(f"`__h__` DIV {shard_width}")
    )
    (
        staged.repartition(n_shards, "__shard__")
        .sortWithinPartitions("__shard__", "__h__", key_col)
        .drop("__h__")
        .write.mode("overwrite")
        .partitionBy("__shard__")
        .parquet(path)
    )


def write_orc(
    df: DataFrame, path: str, partition_by: list[str] | None = None
) -> None:
    """ORC sink — same surface as :func:`write_parquet` for warehouses
    standardized on ORC (Hive lineage).  Spark's native ORC writer keeps
    predicate pushdown and column pruning on the read path just like
    parquet."""
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.orc(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC source (schema from footer metadata, splits per stripe)."""
    return spark.read.orc(path)


def compact_parquet(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> int:
    """Small-file compaction — the table-maintenance pass every long-lived
    lakehouse dataset needs: streaming/micro-batch sinks accrete thousands
    of tiny part files, and scan planning cost grows with file count, not
    bytes.  Re-writes ``path`` as ceil(on_disk_bytes / target) files and
    returns the new file count.

    Sizing uses the REAL on-disk bytes of the existing files (filesystem
    metadata — no data scan), so compressed data compacts to compressed-
    size targets.  The rewrite is staged next to the original and swapped
    in only after success (a failed rewrite leaves the table untouched).
    The swap itself goes through the Hadoop FileSystem API — not the local
    shutil — so the same code path works on hdfs:// / s3a:// URIs, and the
    delete+rename window is as small (and, on rename-atomic filesystems,
    as atomic) as the FS allows.  Coalesce, not repartition: no shuffle —
    each output task concatenates whole input splits."""
    import math

    df = spark.read.parquet(path)
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(conf)
    total = fs.getContentSummary(p).getLength()
    n = max(1, math.ceil(total / target_file_bytes))
    staged_str = path.rstrip("/") + "__compacting"
    staged = jvm.org.apache.hadoop.fs.Path(staged_str)
    df.coalesce(n).write.mode("overwrite").parquet(staged_str)
    fs.delete(p, True)
    if not fs.rename(staged, p):
        raise IOError(f"compact_parquet: rename {staged_str} -> {path} failed")
    return len(
        [f for f in spark.read.parquet(path).inputFiles() if f.endswith(".parquet")]
    )


def read_parquet_evolved(spark: SparkSession, *paths: str) -> DataFrame:
    """Schema-evolution read: union multiple dataset generations whose
    schemas drifted (columns added over time) into one frame with the
    merged schema — missing columns are null, the standard
    ``mergeSchema`` contract.  Schema merging costs a footer read per
    file at planning time, which is why it is an explicit reader here
    rather than a global default."""
    return spark.read.option("mergeSchema", True).parquet(*paths)


def zorder_key(cols: list, bits: int = 16):
    """Z-order (Morton) key over ``bits`` low bits of each integer column:
    bit b of column i lands at position ``b * n_cols + i`` of the key.

    The layout primitive behind multi-dimensional data skipping: sorting a
    table by one column gives parquet min/max pruning on that column only;
    sorting by the interleaved key clusters BOTH dimensions at once, so a
    range predicate on either column (or both) skips most row groups.
    Delta/Iceberg OPTIMIZE ZORDER is this exact transform.  Pure bit
    arithmetic (shiftright/&/shiftleft fold) — deterministic, engine-
    portable, and a narrow expression with no shuffle of its own.

    Columns must already be non-negative integers at a comparable scale
    (rank or bucket them first — interleaving raw skewed values wastes
    high bits); values are masked to ``bits`` bits."""
    n = len(cols)
    key = F.lit(0).cast("long")
    for b in range(bits):
        for i, c in enumerate(cols):
            bit = F.shiftright(c.cast("long"), b).bitwiseAND(F.lit(1))
            key = key.bitwiseOR(F.shiftleft(bit, b * n + i))
    return key


def zorder_key_sql(col_exprs: list[str], bits: int = 16) -> str:
    "DuckDB twin of :func:`zorder_key` (same bit placement)."
    n = len(col_exprs)
    terms = []
    for b in range(bits):
        for i, e in enumerate(col_exprs):
            terms.append(
                f"(((CAST({e} AS BIGINT) >> {b}) & 1) << {b * n + i})"
            )
    return "(" + " | ".join(terms) + ")"


def write_zordered(
    df,
    path: str,
    cols: list[str],
    bits: int = 16,
    n_files: int = 8,
) -> None:
    """Write ``df`` clustered by the Z-order key of ``cols``: range-
    partition on the key (so files tile the Z-curve) and sort within each
    partition (so row groups tile it too).  Downstream range predicates
    on ANY of ``cols`` prune at both the file and row-group level —
    measured by tools/zorder_pruning.py."""
    keyed = df.withColumn(
        "__zkey__", zorder_key([F.col(c) for c in cols], bits)
    )
    (
        keyed.repartitionByRange(n_files, "__zkey__")
        .sortWithinPartitions("__zkey__")
        .drop("__zkey__")
        .write.mode("overwrite")
        .parquet(path)
    )


# ---- file-grain ingestion (round 7) -------------------------------------


def read_binary_dir(
    spark: SparkSession, path: str, glob: str | None = None
) -> DataFrame:
    """Media-file ingestion via Spark's built-in ``binaryFile`` source:
    (path, modificationTime, length, content) with one row per file,
    distributed by file — the entry point that feeds raw image/audio
    payloads into the multimodal decode pipelines
    (operators/multimodal.py).  ``glob`` filters by filename pattern
    (``pathGlobFilter``, e.g. ``"*.ppm"``) WITHOUT listing-then-filtering:
    the source prunes during file listing.  Metadata-only queries (count,
    size histograms) never read file contents — the format reads
    ``content`` lazily per requested column."""
    reader = spark.read.format("binaryFile")
    if glob is not None:
        reader = reader.option("pathGlobFilter", glob)
    return reader.load(path)


def media_from_binary_dir(
    spark: SparkSession, path: str, glob: str | None = None
) -> DataFrame:
    """``read_binary_dir`` shaped for the decode pipelines: (media_id,
    media_path, payload) with a deterministic 60-bit id hashed from the
    file path (stable across runs, listings, and partitionings — the same
    portable-hash contract every sampling/dedup operator uses)."""
    from adtl_spark.operators.dedup import md5_60

    raw = read_binary_dir(spark, path, glob)
    return raw.select(
        md5_60(F.col("path")).alias("media_id"),
        F.col("path").alias("media_path"),
        F.col("content").alias("payload"),
    )


def read_tar_members(
    archives: DataFrame,
    content_col: str = "content",
    path_col: str = "path",
) -> DataFrame:
    """WebDataset-style tar-shard ingestion: one row per tar MEMBER from
    binary archive payloads — (shard, member, member_idx, size, payload).
    Training corpora for multimodal models ship as directories of tar
    shards whose members are per-sample files (``000123.jpg`` /
    ``000123.txt`` / ``000123.json`` grouped by basename); this is the
    entry point that turns those shards into rows the decode pipelines
    consume.

    Arrow-batched ``mapInPandas`` with stdlib ``tarfile`` over in-memory
    payloads: parallelism is per-shard (the same unit as the
    ``binaryFile`` scan that feeds it), member extraction never touches
    the driver, and only regular-file members are emitted (directories
    and PAX/long-name metadata entries are consumed by tarfile itself).
    Compose with :func:`write_tar_shards` for the round trip."""
    import io as _io
    import tarfile
    from typing import Iterator

    import pandas as pd

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = ["shard", "member", "member_idx", "size", "payload"]
        for pdf in batches:
            rows = []
            for shard_path, blob in zip(pdf[path_col], pdf[content_col]):
                if blob is None:
                    continue
                with tarfile.open(fileobj=_io.BytesIO(bytes(blob))) as tf:
                    idx = 0
                    for m in tf:
                        if not m.isfile():
                            continue
                        f = tf.extractfile(m)
                        rows.append(
                            (shard_path, m.name, idx, m.size, f.read())
                        )
                        idx += 1
            yield pd.DataFrame(rows, columns=cols)

    return archives.mapInPandas(
        run,
        schema=(
            "shard string, member string, member_idx long, "
            "size long, payload binary"
        ),
    )


def write_tar_shards(
    df: DataFrame,
    path: str,
    n_shards: int,
    member_col: str = "member",
    payload_col: str = "payload",
) -> None:
    """Export (member, payload) rows as WebDataset-style tar shards:
    rows hash-partition by member name into ``n_shards`` repartitioned
    groups, each partition writes ONE ``shard-NNNNN.tar`` with members
    sorted by name (deterministic layout for a given assignment —
    re-exports byte-match modulo mtime, which is pinned to 0).  Shard
    assignment uses the portable 60-bit hash, so it is stable across
    runs and partitionings — the same contract as write_training_shards.
    Executors write their own shard directly to ``path`` with plain file
    IO; nothing corpus-sized passes the driver.  CLUSTER CAVEAT: ``path``
    must be a filesystem every executor can reach (NFS / FUSE-mounted
    object store) — on a multi-node cluster with node-local disks, point
    it at the shared mount; the Spark-native sinks (parquet/ORC above)
    remain the path-agnostic exports."""
    import io as _io
    import os
    import tarfile
    from typing import Iterator

    import pandas as pd

    from adtl_spark.operators.dedup import md5_60

    os.makedirs(path, exist_ok=True)
    shard = F.pmod(md5_60(F.col(member_col)), F.lit(n_shards)).cast("int")
    rows = df.select(
        shard.alias("__shard"),
        F.col(member_col).alias("member"),
        F.col(payload_col).alias("payload"),
    ).repartition(n_shards, "__shard")

    def write_partition(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        acc: dict[int, list] = {}
        for pdf in batches:
            for s, m, p in zip(pdf["__shard"], pdf["member"], pdf["payload"]):
                acc.setdefault(int(s), []).append((m, p))
        out = []
        for s, members in acc.items():
            buf = _io.BytesIO()
            with tarfile.open(fileobj=buf, mode="w") as tf:
                for name, payload in sorted(members):
                    info = tarfile.TarInfo(name=name)
                    info.size = len(payload)
                    info.mtime = 0  # deterministic bytes
                    tf.addfile(info, _io.BytesIO(bytes(payload)))
            fname = os.path.join(path, f"shard-{s:05d}.tar")
            with open(fname, "wb") as fh:
                fh.write(buf.getvalue())
            out.append((s, len(members)))
        yield pd.DataFrame(out, columns=["shard", "n_members"])

    # the mapInPandas output is the (shard, n_members) manifest; forcing
    # it materializes the writes on the executors
    rows.mapInPandas(
        write_partition, schema="shard int, n_members long"
    ).collect()


def read_text_dir(
    spark: SparkSession, path: str, whole_files: bool = False
) -> DataFrame:
    """Raw-text corpus ingestion: line-grain rows (``value`` column) by
    default, or one row per FILE with ``whole_files=True`` (Spark's
    ``wholetext`` option) for document-grain corpora — pair with
    ``input_file_name()`` or the ``_metadata`` columns for provenance.
    ``wholetext`` must be the reader-method keyword: ``.text()`` rebuilds
    its options, so a prior ``.option(...)`` call is silently dropped."""
    return spark.read.text(path, wholetext=whole_files)


def shard_manifest(
    df: DataFrame,
    n_shards: int,
    key_col: str = "doc_id",
    salt: str = "shuffle",
    size_col: str | None = None,
) -> DataFrame:
    """Integrity manifest for a :func:`write_training_shards` export:
    per-shard row counts, total payload size, and an order-independent
    content checksum — computable BEFORE the write (plan the export),
    AFTER it (verify the parquet), or incrementally on an appended batch
    (manifests add: counts/sizes sum, checksums xor).

    Shard assignment replays write_training_shards exactly (same salted
    portable hash, ``shard = hash DIV (space/n_shards)``), so the
    manifest describes the real shard files.  The checksum is
    ``bit_xor`` of a per-row 60-bit content hash (key + size column):
    xor is commutative/associative, so the checksum is independent of
    partitioning and row order — two exports of the same corpus match
    bit-for-bit however Spark scheduled them, and a single flipped row
    flips the shard checksum.  One map-side-combinable aggregate, output
    is ``n_shards`` rows; use a power-of-two ``n_shards`` so the hash
    space divides exactly (same contract as write_training_shards).
    """
    from adtl_spark.operators.dedup import md5_60
    from adtl_spark.operators.sampling import HASH_SPACE

    h = md5_60(F.concat_ws("|", F.lit(salt), F.col(key_col).cast("string")))
    content_cols = [F.col(key_col).cast("string")]
    if size_col is not None:
        content_cols.append(F.col(size_col).cast("string"))
    row_h = md5_60(F.concat_ws("|", F.lit("manifest"), *content_cols))
    sized = (
        F.col(size_col).cast("long") if size_col else F.lit(0).cast("long")
    )
    shard_width = HASH_SPACE // n_shards
    staged = df.withColumn("__h__", h).select(
        F.expr(f"`__h__` DIV {shard_width}").alias("shard"),
        row_h.alias("__rh__"),
        sized.alias("__sz__"),
    )
    return (
        staged.groupBy("shard")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum("__sz__").cast("long").alias("total_size"),
            F.expr("bit_xor(`__rh__`)").alias("checksum"),
        )
        .orderBy("shard")
    )


def shard_manifest_oracle_sql(
    source_sql: str,
    n_shards: int,
    key_expr: str = "doc_id",
    salt: str = "shuffle",
    size_expr: str | None = None,
) -> str:
    """DuckDB replay twin of :func:`shard_manifest` — same salted shard
    hash, same per-row content hash, same xor checksum."""
    from adtl_spark.operators.dedup import md5_60_sql
    from adtl_spark.operators.sampling import HASH_SPACE

    h = md5_60_sql(f"concat_ws('|', '{salt}', CAST({key_expr} AS VARCHAR))")
    content = f"concat_ws('|', 'manifest', CAST({key_expr} AS VARCHAR)"
    if size_expr is not None:
        content += f", CAST({size_expr} AS VARCHAR)"
    content += ")"
    row_h = md5_60_sql(content)
    sz = f"CAST({size_expr} AS BIGINT)" if size_expr else "CAST(0 AS BIGINT)"
    shard_width = HASH_SPACE // n_shards
    return f"""
    SELECT shard,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(sz) AS BIGINT) AS total_size,
           CAST(bit_xor(rh) AS BIGINT) AS checksum
    FROM (
      SELECT ({h}) // {shard_width} AS shard,
             ({row_h}) AS rh,
             {sz} AS sz
      FROM ({source_sql})
    )
    GROUP BY 1 ORDER BY 1
    """


def manifest_diff(old: DataFrame, new: DataFrame) -> DataFrame:
    """Compare two :func:`shard_manifest` outputs: per shard, classify
    ``unchanged`` / ``changed`` / ``added`` / ``removed`` with both
    sides' row counts.  The comparison is manifest-sized (n_shards
    rows), so verifying a 100 TB re-export costs two manifest scans and
    a tiny join — the corpus itself is never re-read, and because the
    checksum is order-independent the diff is immune to scheduling
    differences between the two exports."""
    o = old.select(
        F.col("shard"),
        F.col("n_rows").alias("old_rows"),
        F.col("checksum").alias("old_sum"),
    )
    n = new.select(
        F.col("shard"),
        F.col("n_rows").alias("new_rows"),
        F.col("checksum").alias("new_sum"),
    )
    j = o.join(n, "shard", "full_outer")
    status = (
        F.when(F.col("old_rows").isNull(), F.lit("added"))
        .when(F.col("new_rows").isNull(), F.lit("removed"))
        .when(
            (F.col("old_sum") == F.col("new_sum"))
            & (F.col("old_rows") == F.col("new_rows")),
            F.lit("unchanged"),
        )
        .otherwise(F.lit("changed"))
    )
    return j.select(
        "shard",
        status.alias("status"),
        F.coalesce(F.col("old_rows"), F.lit(0)).cast("long").alias("old_rows"),
        F.coalesce(F.col("new_rows"), F.lit(0)).cast("long").alias("new_rows"),
    ).orderBy("shard")


def parse_warc_records(
    files: DataFrame, content_col: str = "value"
) -> DataFrame:
    """Parse WARC/1.0 archives (the CommonCrawl container format) that
    were ingested file-per-row (``read_text_dir(whole_files=True)``)
    into one row per record — entirely with native Column expressions
    (split / posexplode / regexp_extract / substring), so record
    extraction distributes by file with no Python in the path.

    Per record: ``rec_pos`` (0-based position in its file), ``warc_type``
    (response/request/conversion/...), ``target_uri``, ``record_id``
    (the <urn:uuid:...> header value), ``content_length`` (header value,
    may be null), and ``content`` — the payload, cut to content_length
    when present, else trimmed of the inter-record CRLF padding.

    Character-addressed: WARC Content-Length counts BYTES; this text
    pipeline is byte-exact for ASCII/8-bit payloads (the WET/text use
    case it exists for).  Archives with binary payloads should go
    through ``read_binary_dir`` + the multimodal decode pipeline
    instead.  The reference engine has no archive ingestion at all; this
    is part of the training-data-pipeline extension surface.

    Record splitting is anchored to the RECORD BOUNDARY — the blank line
    that terminates the previous record's block followed by the version
    line (``\\r\\n\\r\\nWARC/1.0\\r\\n``; the file head is handled by
    prepending a synthetic boundary) — never to ``WARC/1.0`` alone, so a
    crawled payload that merely mentions the version string does not
    fragment its record.  Remaining documented hazard of this
    SQL-replayable path: a payload containing a blank line IMMEDIATELY
    followed by a version line still false-splits (the content then
    comes up short of its Content-Length); archives where that can occur
    should use :func:`parse_warc_records_strict`, which walks
    Content-Length like a conformant WARC reader."""
    recs = files.select(
        F.col(content_col).alias("__raw"),
        F.posexplode(
            F.split(
                F.concat(F.lit("\r\n\r\n"), F.col(content_col)),
                r"\r?\n\r?\nWARC/1\.0\r?\n",
            )
        ).alias("__pos", "__rec"),
    ).filter((F.col("__pos") > 0) & (F.col("__rec") != ""))
    parts = recs.select(
        (F.col("__pos") - 1).cast("long").alias("rec_pos"),
        F.split(F.col("__rec"), r"\r?\n\r?\n", 2).alias("__hb"),
    )
    headers = F.element_at(F.col("__hb"), 1)
    body = F.element_at(F.col("__hb"), 2)
    clen = F.nullif(
        F.regexp_extract(headers, r"(?m)^Content-Length:\s*(\d+)", 1), F.lit("")
    ).cast("long")
    content = F.when(
        clen.isNotNull(), F.substring(body, 1, clen)
    ).otherwise(F.regexp_replace(body, r"(\r?\n)+$", ""))
    return parts.select(
        "rec_pos",
        F.nullif(
            F.regexp_extract(headers, r"(?m)^WARC-Type:\s*(\S+)", 1),
            F.lit(""),
        ).alias("warc_type"),
        F.nullif(
            F.regexp_extract(headers, r"(?m)^WARC-Target-URI:\s*(\S+)", 1),
            F.lit(""),
        ).alias("target_uri"),
        F.nullif(
            F.regexp_extract(
                headers, r"(?m)^WARC-Record-ID:\s*<?([^>\r\n]+)>?", 1
            ),
            F.lit(""),
        ).alias("record_id"),
        clen.alias("content_length"),
        F.coalesce(content, F.lit("")).alias("content"),
    )


def parse_warc_records_strict(
    files: DataFrame,
    content_col: str = "value",
    passthrough: tuple = (),
) -> DataFrame:
    """Conformant WARC record parsing: like :func:`parse_warc_records`
    (same output schema, equal rows on well-formed archives — tested)
    but advances by ``Content-Length`` the way a real WARC reader does,
    so a payload containing ANY byte sequence — including a blank line
    followed by a version line, which false-splits the Column path — is
    returned intact.

    Arrow-batched ``mapInPandas`` over whole files: parallelism is
    per-file (same unit as the ingestion scan), and the per-record walk
    is offset arithmetic plus header-block regexes — payload bytes are
    sliced, never regex-scanned.  Use this for arbitrary crawled
    archives; the Column path remains the SQL-replayable fast path for
    text archives where payload collisions cannot occur (WET, test
    fixtures, synthetic corpora).  Character-addressed like the Column
    path (byte-exact for ASCII/8-bit payloads).

    ``passthrough`` names input columns copied verbatim onto every
    record parsed from that row — provenance for CDX-style indexing
    (archive path, gzip member offset from
    :func:`gzip_member_records`)."""
    import re
    from typing import Iterator

    import pandas as pd

    h_end = re.compile(r"\r?\n\r?\n")
    next_rec = re.compile(r"\r?\n\r?\nWARC/1\.0\r?\n")
    r_clen = re.compile(r"(?m)^Content-Length:\s*(\d+)")
    r_type = re.compile(r"(?m)^WARC-Type:\s*(\S+)")
    r_uri = re.compile(r"(?m)^WARC-Target-URI:\s*(\S+)")
    r_rid = re.compile(r"(?m)^WARC-Record-ID:\s*<?([^>\r\n]+)>?")

    def walk(content: str):
        pos, rec_pos, n = 0, 0, len(content)
        while pos < n:
            while pos < n and content[pos] in "\r\n":
                pos += 1
            if not content.startswith("WARC/1.0", pos):
                break  # strict: stop at the first non-record byte
            m = h_end.search(content, pos)
            if m is None:
                break  # truncated header block
            headers = content[pos : m.start()]
            body_start = m.end()
            mc = r_clen.search(headers)
            if mc is not None:
                clen = int(mc.group(1))
                body = content[body_start : body_start + clen]
                pos = body_start + clen
            else:
                clen = None
                nxt = next_rec.search(content, body_start)
                end = nxt.start() if nxt is not None else n
                body = content[body_start:end].rstrip("\r\n")
                pos = end
            mt, mu, mi = (
                r_type.search(headers),
                r_uri.search(headers),
                r_rid.search(headers),
            )
            yield (
                rec_pos,
                mt.group(1) if mt else None,
                mu.group(1) if mu else None,
                mi.group(1) if mi else None,
                clen,
                body,
            )
            rec_pos += 1

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [
            "rec_pos",
            "warc_type",
            "target_uri",
            "record_id",
            "content_length",
            "content",
        ] + list(passthrough)
        for pdf in batches:
            rows = []
            for _, row in pdf.iterrows():
                c = row[content_col]
                if c is None:
                    continue
                extra = tuple(row[p] for p in passthrough)
                for rec in walk(c):
                    rows.append(rec + extra)
            yield pd.DataFrame(rows, columns=cols)

    base_schema = (
        "rec_pos long, warc_type string, target_uri string, "
        "record_id string, content_length long, content string"
    )
    if passthrough:
        # provenance columns (archive path, gzip member offset/position,
        # ...) copied verbatim onto every record parsed from that input
        # row — what a CDX-style index build needs downstream
        in_schema = {f.name: f.dataType.simpleString() for f in files.schema}
        base_schema += "".join(f", {p} {in_schema[p]}" for p in passthrough)
    return files.mapInPandas(run, schema=base_schema)


def parse_warc_records_bytes(
    files: DataFrame,
    content_col: str = "content",
    passthrough: tuple = (),
) -> DataFrame:
    """Byte-true WARC record parsing for BINARY archives: the same
    Content-Length walk as :func:`parse_warc_records_strict`, but over
    bytes — so Content-Length counts actual BYTES (the WARC contract)
    and payloads in any charset (or none) come through intact as a
    ``content binary`` column.  Header blocks are ASCII per the WARC
    spec, so header regexes run on bytes directly; header VALUES decode
    as latin-1 (byte-preserving) into the string columns.

    This is the ingestion layer for real crawl archives, where each
    record's payload charset is only discoverable per record (HTTP
    headers / meta tags): feed ``response`` records to
    :func:`http_text_records` for charset-aware text decoding.  The
    string-path readers remain the right tool for WET/ASCII corpora.
    Parallel unit is the archive file, same as the other WARC readers."""
    import re
    from typing import Iterator

    import pandas as pd

    h_end = re.compile(rb"\r?\n\r?\n")
    next_rec = re.compile(rb"\r?\n\r?\nWARC/1\.0\r?\n")
    r_clen = re.compile(rb"(?m)^Content-Length:\s*(\d+)")
    r_type = re.compile(rb"(?m)^WARC-Type:\s*(\S+)")
    r_uri = re.compile(rb"(?m)^WARC-Target-URI:\s*(\S+)")
    r_rid = re.compile(rb"(?m)^WARC-Record-ID:\s*<?([^>\r\n]+)>?")

    def walk(content: bytes):
        pos, rec_pos, n = 0, 0, len(content)
        while pos < n:
            while pos < n and content[pos : pos + 1] in (b"\r", b"\n"):
                pos += 1
            if not content.startswith(b"WARC/1.0", pos):
                break  # strict: stop at the first non-record byte
            m = h_end.search(content, pos)
            if m is None:
                break  # truncated header block
            headers = content[pos : m.start()]
            body_start = m.end()
            mc = r_clen.search(headers)
            if mc is not None:
                clen = int(mc.group(1))
                body = content[body_start : body_start + clen]
                pos = body_start + clen
            else:
                clen = None
                nxt = next_rec.search(content, body_start)
                end = nxt.start() if nxt is not None else n
                body = content[body_start:end].rstrip(b"\r\n")
                pos = end
            mt, mu, mi = (
                r_type.search(headers),
                r_uri.search(headers),
                r_rid.search(headers),
            )
            yield (
                rec_pos,
                mt.group(1).decode("latin-1") if mt else None,
                mu.group(1).decode("latin-1") if mu else None,
                mi.group(1).decode("latin-1") if mi else None,
                clen,
                body,
            )
            rec_pos += 1

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [
            "rec_pos",
            "warc_type",
            "target_uri",
            "record_id",
            "content_length",
            "content",
        ] + list(passthrough)
        for pdf in batches:
            rows = []
            for _, row in pdf.iterrows():
                c = row[content_col]
                if c is None:
                    continue
                extra = tuple(row[p] for p in passthrough)
                for rec in walk(bytes(c)):
                    rows.append(rec + extra)
            yield pd.DataFrame(rows, columns=cols)

    base_schema = (
        "rec_pos long, warc_type string, target_uri string, "
        "record_id string, content_length long, content binary"
    )
    if passthrough:
        in_schema = {f.name: f.dataType.simpleString() for f in files.schema}
        base_schema += "".join(f", {p} {in_schema[p]}" for p in passthrough)
    return files.mapInPandas(run, schema=base_schema)


def decode_http_response(payload: bytes, sniff_bytes: int = 1024) -> tuple:
    """Decode one HTTP response payload (head + body, as stored in a
    WARC ``response`` record) to ``(status, charset, text)`` with
    WHATWG-encoding-standard precedence:

    1. byte-order mark on the body (UTF-8 / UTF-16 LE / UTF-16 BE) —
       a BOM outranks any declaration;
    2. ``charset=`` in the ``Content-Type`` response header;
    3. ``<meta charset=...>`` / ``<meta http-equiv="Content-Type"...>``
       sniffed in the first ``sniff_bytes`` of the body (ASCII-
       compatible scan — the way real pages declare windows-1252);
    4. UTF-8 with ``errors='replace'`` as the documented last resort
       (never raises on arbitrary crawl bytes).

    ``charset`` is the codec's canonical Python name (``cp1252`` for
    ``windows-1252``), so downstream grouping by charset is stable
    across alias spellings; unknown labels fall through to the next
    precedence level.  ``status`` is the response-line code (None for
    a payload with no HTTP head — the whole payload is then the body)."""
    import codecs
    import re

    head, sep, body = payload.partition(b"\r\n\r\n")
    status = None
    if sep and head[:5] == b"HTTP/":
        m = re.match(rb"HTTP/\d(?:\.\d)?\s+(\d{3})", head)
        if m:
            status = int(m.group(1))
    else:
        body = payload  # no HTTP head: decode the payload itself
        head = b""

    def canon(label: bytes):
        try:
            return codecs.lookup(
                label.decode("ascii", "replace").strip().strip("\"'")
            ).name
        except LookupError:
            return None

    charset = None
    if body[:3] == b"\xef\xbb\xbf":
        charset, body = "utf-8", body[3:]
    elif body[:2] == b"\xff\xfe":
        charset, body = "utf-16-le", body[2:]
    elif body[:2] == b"\xfe\xff":
        charset, body = "utf-16-be", body[2:]
    if charset is None and head:
        m = re.search(
            rb"(?im)^Content-Type:[^\r\n]*?charset=([^\s;\"']+)", head
        )
        if m:
            charset = canon(m.group(1))
    if charset is None:
        sniff = body[:sniff_bytes]
        m = re.search(rb"(?i)<meta\s+charset=[\"']?([A-Za-z0-9_.:-]+)", sniff)
        if m is None:
            m = re.search(
                rb"(?i)<meta[^>]+content=[\"'][^\"']*charset=([A-Za-z0-9_.:-]+)",
                sniff,
            )
        if m:
            charset = canon(m.group(1))
    if charset is None:
        charset = "utf-8"
    return status, charset, body.decode(charset, errors="replace")


def http_text_records(
    records: DataFrame,
    content_col: str = "content",
    passthrough: tuple = ("rec_pos", "target_uri"),
    sniff_bytes: int = 1024,
) -> DataFrame:
    """Charset-aware HTTP payload decoding as a DataFrame op — the step
    between :func:`parse_warc_records_bytes` and ``html_to_text`` that
    turns raw crawl bytes into text a WET pipeline can trust: real
    CommonCrawl is full of windows-1252 / latin-1 / utf-16 pages, and
    decoding them as utf-8 silently mangles every non-ASCII character.
    Emits ``passthrough`` + ``(http_status, charset, text)`` per input
    record via :func:`decode_http_response` (WHATWG precedence: BOM >
    Content-Type header > meta sniff > utf-8/replace — never raises).
    CARDINALITY-PRESERVING: a record with a NULL payload yields a
    ``(NULL, NULL, NULL)`` triple, not a dropped row — a WET pipeline
    counting records in vs out must balance, and silently vanishing
    rows are exactly the failure a crawl audit exists to catch.
    Arrow ``mapInPandas``; per-record work is one header regex + one
    decode, so it distributes like the codec operators."""
    from typing import Iterator

    import pandas as pd

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = list(passthrough) + ["http_status", "charset", "text"]
        for pdf in batches:
            rows = []
            for payload, *through in zip(
                pdf[content_col], *(pdf[p] for p in passthrough)
            ):
                if payload is None:
                    rows.append(tuple(through) + (None, None, None))
                    continue
                status, charset, text = decode_http_response(
                    bytes(payload), sniff_bytes
                )
                rows.append(tuple(through) + (status, charset, text))
            yield pd.DataFrame(rows, columns=cols)

    in_schema = {f.name: f.dataType.simpleString() for f in records.schema}
    schema = (
        "".join(f"{p} {in_schema[p]}, " for p in passthrough)
        + "http_status int, charset string, text string"
    )
    return records.mapInPandas(run, schema=schema)


def split_gzip_members(data: bytes) -> list:
    """Split a concatenation of gzip members — the ``.warc.gz`` /
    ``.wet.gz`` layout CommonCrawl ships, one member per WARC record —
    into ``(offset, compressed_len, payload_bytes)`` triples.  Walks
    members with ``zlib.decompressobj(wbits=31)`` and the ``unused_data``
    tail, so member boundaries are exact (no magic-byte scanning, which
    would false-split on 0x1f8b inside compressed payloads).  The
    offsets are precisely what the CommonCrawl CDX index publishes for
    range-request access, so a manifest built from them supports
    offset-keyed partial reads at scale."""
    import zlib

    out = []
    pos = 0
    n = len(data)
    mv = memoryview(data)
    chunk = 1 << 20
    while pos < n:
        # feed bounded chunks so the walk is O(archive), not
        # O(members x archive): a naive data[pos:] slice per member
        # would memcpy the whole remaining tail every iteration — tens
        # of terabytes of copying on a 1 GB record-per-member archive
        d = zlib.decompressobj(wbits=31)
        payload = bytearray()
        cur = pos
        while not d.eof:
            if cur >= n:
                raise ValueError(f"truncated gzip member at offset {pos}")
            block = mv[cur : cur + chunk]
            cur += len(block)
            payload += d.decompress(block)
        consumed = (cur - pos) - len(d.unused_data)
        out.append((pos, consumed, bytes(payload)))
        pos += consumed
    return out


def gzip_members_bytes(payloads, mtime: int = 0) -> bytes:
    """Concatenate ``payloads`` (bytes) as independent gzip members —
    the writer side of :func:`split_gzip_members` and the exact
    ``.warc.gz`` record-per-member layout.  ``mtime=0`` pins the gzip
    header so output is byte-deterministic across runs/partitions."""
    import gzip

    return b"".join(gzip.compress(p, mtime=mtime) for p in payloads)


def gzip_member_records(
    files: DataFrame,
    content_col: str = "content",
    encoding: str | None = "utf-8",
    passthrough: tuple = (),
) -> DataFrame:
    """Expand binary ``.gz``-member archives (e.g. from
    ``spark.read.format('binaryFile')``) into one row per member:
    ``(member_pos, member_off, member_len, value)`` with the payload
    decoded as text — feed ``value`` to :func:`parse_warc_records_strict`
    for the CommonCrawl one-record-per-member contract.

    Arrow-batched ``mapInPandas`` over whole files: gzip members are
    sequential WITHIN a file by construction (each member's end is only
    known after inflating it), so the parallel unit is the archive file
    — the same unit as the uncompressed WARC readers, and the right one
    at 100 TB where a crawl ships as many ~1 GB archives.  The emitted
    ``member_off`` doubles as the CDX-style offset for later
    range-request access; ``passthrough`` copies input columns (the
    archive path/id — offsets are only meaningful WITH their archive)
    onto every member row.  ``encoding=None`` keeps members as BYTES
    (``value binary``) — the input to :func:`parse_warc_records_bytes`
    when payload charsets are only known per record (real crawl
    archives)."""
    from typing import Iterator

    import pandas as pd

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = ["member_pos", "member_off", "member_len", "value"] + list(
            passthrough
        )
        for pdf in batches:
            rows = []
            for _, row in pdf.iterrows():
                blob = row[content_col]
                if blob is None:
                    continue
                extra = tuple(row[p] for p in passthrough)
                for i, (off, clen, payload) in enumerate(
                    split_gzip_members(bytes(blob))
                ):
                    val = (
                        payload
                        if encoding is None
                        else payload.decode(encoding)
                    )
                    rows.append((i, off, clen, val) + extra)
            yield pd.DataFrame(rows, columns=cols)

    vtype = "binary" if encoding is None else "string"
    schema = (
        f"member_pos long, member_off long, member_len long, value {vtype}"
    )
    if passthrough:
        in_schema = {f.name: f.dataType.simpleString() for f in files.schema}
        schema += "".join(f", {p} {in_schema[p]}" for p in passthrough)
    return files.mapInPandas(run, schema=schema)


def read_gzip_member_at(blob: bytes, offset: int, length: int | None = None) -> bytes:
    """Decompress exactly ONE gzip member from ``blob`` starting at
    ``offset`` (a ``member_off`` from :func:`gzip_member_records` / a
    CDX-index offset) without touching any earlier member — the
    range-request read pattern: with a CDX manifest, fetching one record
    from a 1 GB ``.warc.gz`` archive reads ``member_len`` bytes, not the
    archive.  ``length`` (when given) bounds the slice like an HTTP
    Range header; decompression stops at the member's end either way."""
    import zlib

    end = None if length is None else offset + length
    d = zlib.decompressobj(wbits=31)
    payload = d.decompress(blob[offset:end])
    payload += d.flush()
    if not d.eof:
        raise ValueError(f"truncated gzip member at offset {offset}")
    return payload


def fetch_gzip_members(
    archives: DataFrame,
    manifest: DataFrame,
    archive_key: str = "archive_id",
    content_col: str = "content",
    encoding: str | None = "utf-8",
) -> DataFrame:
    """CDX-style random access as a DataFrame op: join a (small)
    ``manifest`` of wanted members — rows of ``(archive_key,
    member_off, member_len)`` plus any passthrough columns — against
    the binary archives, and inflate ONLY the requested members.

    The manifest side broadcasts (a fetch list is query-sized; the
    archive relation is the corpus); each archive blob is then sliced
    per requested offset, so work is proportional to members FETCHED,
    not archive bytes scanned — the partial-read contract a CDX index
    exists for.  (With object-store range reads the slice happens at
    the storage layer; on the DataFrame path the blob is in memory
    once per file either way, and the decompression saving is real.)
    Emits the manifest row's columns plus ``value`` (decoded member;
    ``encoding=None`` keeps it as BYTES for the charset-aware readers).
    The manifest is grouped to ONE request-list row per archive before
    the join, so each blob crosses the JVM->Arrow boundary exactly once
    however many members are fetched from it (a row-per-request join
    would replicate a 1 GB blob k times)."""
    from typing import Iterator

    import pandas as pd

    want = [c for c in manifest.columns]
    extra = [c for c in want if c != archive_key]
    wants = manifest.groupBy(archive_key).agg(
        F.collect_list(F.struct(*extra)).alias("__reqs__")
    )
    joined = archives.select(
        archive_key, F.col(content_col).alias("__blob__")
    ).join(F.broadcast(wants), archive_key)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for _, row in pdf.iterrows():
                blob = bytes(row["__blob__"])
                key = row[archive_key]
                for req in row["__reqs__"]:
                    payload = read_gzip_member_at(
                        blob,
                        int(req["member_off"]),
                        int(req["member_len"]),
                    )
                    rows.append(
                        (key,)
                        + tuple(req[c] for c in extra)
                        + (
                            payload
                            if encoding is None
                            else payload.decode(encoding),
                        )
                    )
            yield pd.DataFrame(rows, columns=[archive_key] + extra + ["value"])

    in_schema = {f.name: f.dataType.simpleString() for f in manifest.schema}
    vtype = "binary" if encoding is None else "string"
    schema = (
        ", ".join(f"{c} {in_schema[c]}" for c in [archive_key] + extra)
        + f", value {vtype}"
    )
    return joined.mapInPandas(run, schema=schema)


def wet_documents(files: DataFrame, content_col: str = "value") -> DataFrame:
    """WET-style text-document extraction from parsed WARC archives:
    keep ``conversion`` records (WET's extracted-text type), emit
    (doc_id, uri, text) with the deterministic 60-bit id hashed from
    (uri, rec_pos) — the same portable-id contract media ingestion uses,
    so downstream dedup/sampling decisions are append-stable."""
    from adtl_spark.operators.dedup import md5_60

    recs = parse_warc_records(files, content_col)
    return recs.filter(F.col("warc_type") == "conversion").select(
        md5_60(
            F.concat_ws(
                "|",
                F.coalesce(F.col("target_uri"), F.lit("")),
                F.col("rec_pos").cast("string"),
            )
        ).alias("doc_id"),
        F.col("target_uri").alias("uri"),
        F.col("content").alias("text"),
    )
