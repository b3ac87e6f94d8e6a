"""Headline queries for the driver harness: one entry per operator family
from SURVEY.md §2 (IDs in each docstring), plus the pipeline operators
(dedup / similarity / text) on the documents & embeddings tables.

Every query takes (spark, sf_dir) and returns a DataFrame whose columns are
aliased identically to its DuckDB oracle twin in ``oracles()``.  Numeric
conventions for hash-stable cross-engine comparison:

- money/quantity aggregates go through DECIMAL(18,4) (exact, order-
  independent) and are cast to double at the end;
- dates are rendered as 'yyyy-MM-dd' strings;
- floating results are rounded to 4 decimals AFTER thresholding;
- DuckDB ``sum(BIGINT)`` widens to HUGEINT (int128) while Spark stays
  LongType — ALWAYS wrap integer sums in the oracle with
  ``CAST(sum(...) AS BIGINT)`` or the typed hash diverges even when the
  values are identical.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from adtl_spark.operators import corpus as C
from adtl_spark.operators import dedup as D
from adtl_spark.operators import sampling as SA
from adtl_spark.operators import similarity as S
from adtl_spark.operators import sketches as SK
from adtl_spark.operators import tokenizer as T
from adtl_spark.operators import graph as G
from adtl_spark.operators import fuzzy as FZ
from adtl_spark.operators import joins as J
from adtl_spark.operators import monitor as MO
from adtl_spark.operators import retrieval as R
from adtl_spark.operators import text as X
from adtl_spark.session import (
    configure_for_engine,
    cut,
    cut_and_release,
    scan_parallel,
)

DEC = "decimal(18,4)"


def _t(
    spark: SparkSession, sf_dir: str, name: str, barrier: bool = False
) -> DataFrame:
    configure_for_engine(spark)
    # events.ts has shipped as both parquet TIMESTAMP(NANOS) and
    # TIMESTAMP(MICROS) across driver data generations.  The nanos variant is
    # rejected by Spark's vectorized reader unless read as raw longs; the
    # micros variant arrives as timestamp_ntz.  Normalize both to one
    # canonical representation — epoch nanosecond longs — so every consumer
    # (sessionize gaps, as-of joins, us-precision oracles) sees one type.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events" and df.schema["ts"].dataType.simpleString().startswith(
        "timestamp"
    ):
        # session tz is UTC (configure_for_engine), so the ntz->ltz cast is
        # wall-clock-preserving and unix_micros matches DuckDB's epoch_us
        df = df.withColumn(
            "ts", F.unix_micros(F.col("ts").cast("timestamp")) * F.lit(1000)
        )
    if name in ("documents", "embeddings"):
        # every consumer of these tables does heavy per-row compute
        # (tokenize/shingle/vector math); never let a single-row-group file
        # pin that to one core (no-op on an already-parallel scan).  The
        # relational tables are NOT parallelized this way: their queries are
        # scan->agg shapes where map-side partial aggregation shrinks the
        # data before any shuffle, and a raw-row repartition would defeat it
        # (measured: q1/a2/a3/q3 all regress).
        df = scan_parallel(
            df,
            by=F.col("doc_id" if name == "documents" else "vec_id"),
            barrier=barrier,
        )
    return df


def _ckpt_order(df: DataFrame, *cols) -> DataFrame:
    """Materialize, then globally order — for gates whose deterministic
    output order sits on top of an EXPENSIVE per-row pipeline (payload
    codecs in mapInPandas).  A global ``orderBy`` is a range exchange,
    and the range partitioner's boundary-sampling pass executes the
    full upstream once BEFORE the real pass does — for a Python-codec
    pipeline that doubles the query (measured 2 x 32-task MapInPandas
    stages per execution on the JPEG gates; guide §7.2's duplicated-
    subtree smell).  ``localCheckpoint`` computes the pipeline once and
    lets both the sampling and the sort read the materialized blocks.
    Gate-output shaped only: the checkpointed relation is the per-doc
    feature table (rows ~ documents), never payload-sized.  Cut via
    session.cut: reliable checkpoint under
    spark.adtl.reliableCheckpoint (r14 — local blocks are not
    fault-tolerant on a real cluster)."""
    return cut(df).orderBy(*cols)


def _dec_sum(col, alias: str):
    return F.sum(col.cast(DEC)).cast("double").alias(alias)


def _quantized_sum(col, alias: str):
    """Cross-engine-stable sum of a computed double: floor(x*1e4 + 0.5) per
    row (identical doubles -> identical longs in Spark and DuckDB; a
    double->decimal cast is NOT portable — Spark rounds the shortest-string
    repr, DuckDB the binary value), exact BIGINT sum, one final divide."""
    return (
        F.sum(F.floor(col * 10000 + F.lit(0.5)).cast("long")) / F.lit(10000.0)
    ).alias(alias)


# ----------------------------------------------------------------- relational


def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: TPC-H Q1-shaped scan->filter->agg over lineitem.
    Exercises S1 parquet scan, F2 predicates, A-layer aggregation.  The
    filter and the 7-column projection push down to the parquet scan."""
    li = _t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            _dec_sum(F.col("l_quantity"), "sum_qty"),
            _dec_sum(F.col("l_extendedprice"), "sum_base_price"),
            _quantized_sum(disc_price, "sum_disc_price"),
            _quantized_sum(charge, "sum_charge"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def p3_value_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3/P4 value mapping as a when-chain (the compiled form of an adtl
    ``values`` rule) over l_returnflag, with unmapped passthrough."""
    li = _t(spark, sf_dir, "lineitem")
    mapped = (
        F.when(F.col("l_returnflag") == "A", F.lit("accepted"))
        .when(F.col("l_returnflag") == "R", F.lit("returned"))
        .when(F.col("l_returnflag") == "N", F.lit("none"))
        .otherwise(F.col("l_returnflag"))
    )
    return (
        li.groupBy(mapped.alias("return_status"))
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("return_status")
    )


def f_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1-F6: comparison, regex (=~ anchored, case-insensitive), any/all/not
    composition over orders."""
    o = _t(spark, sf_dir, "orders")
    pred = (
        (F.col("o_totalprice") > 150000.0)
        & F.col("o_orderpriority").rlike("(?i)^(?:1-URGENT|2-HIGH)")
        & ~(F.col("o_orderstatus") == "P")
    ) | (F.col("o_totalprice") <= 1000.0)
    return o.filter(pred).select(
        "o_orderkey",
        "o_orderstatus",
        "o_orderpriority",
        F.col("o_totalprice").cast(DEC).cast("double").alias("o_totalprice"),
    )


def a2_last_not_null(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 lastNotNull / A3 firstNonNull: per order, last and first ship date
    in file order (file order == l_linenumber order for this table; the
    engine's groupBy tables use a captured row id the same way)."""
    li = _t(spark, sf_dir, "lineitem")
    # (l_orderkey, l_linenumber) is NOT unique in the synthetic data, so the
    # ordering key includes the value itself: max/min over the (order, value)
    # struct is deterministic under ties where a bare max_by is not
    key = F.struct(F.col("l_linenumber").alias("ln"), F.col("l_shipdate").alias("sd"))
    return (
        li.groupBy("l_orderkey")
        .agg(
            F.date_format(F.max(key)["sd"], "yyyy-MM-dd").alias("last_ship"),
            F.date_format(F.min(key)["sd"], "yyyy-MM-dd").alias("first_ship"),
            F.max(F.col("l_linenumber")).cast("long").alias("n_lines"),
        )
    )


def a3_combined_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 applyCombinedType folds per group: min/max numerics and the
    sorted distinct 'set' fold (rendered as a joined string for
    hash-stable comparison)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_orderkey").agg(
        F.min(F.col("l_quantity").cast(DEC)).cast("double").alias("min_qty"),
        F.max(F.col("l_extendedprice").cast(DEC)).cast("double").alias("max_price"),
        F.array_join(F.array_sort(F.collect_set("l_returnflag")), ",").alias(
            "flag_set"
        ),
    )


def r1_one_to_many(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R1 oneToMany row generation: each lineitem emits 0-3 observation
    rows via the single-scan array-of-structs explode the engine uses
    (one pass, not one scan per block)."""
    li = _t(spark, sf_dir, "lineitem")
    blocks = F.array(
        F.when(
            F.col("l_returnflag") == "R",
            F.struct(F.lit("returned").alias("name"), F.lit(1.0).alias("value")),
        ),
        F.when(
            F.col("l_discount") > 0.05,
            F.struct(F.lit("high_discount").alias("name"), F.col("l_discount").cast("double").alias("value")),
        ),
        F.when(
            F.col("l_quantity") >= 40.0,
            F.struct(F.lit("heavy").alias("name"), F.col("l_quantity").cast("double").alias("value")),
        ),
    )
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.explode(F.filter(blocks, lambda s: s.isNotNull())).alias("obs"),
    ).select(
        "l_orderkey",
        F.col("l_linenumber").cast("long").alias("l_linenumber"),
        F.col("obs.name").alias("name"),
        F.col("obs.value").alias("value"),
    )


def p9_date_reformat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P9 date reformat: ISO -> dd/MM/yyyy (the strftime translation the
    spec compiler performs)."""
    o = _t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey", F.date_format("o_orderdate", "dd/MM/yyyy").alias("order_date_dmy")
    )


def p10_sensitive_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P10 sensitive-field SHA-256 pseudonymization."""
    c = _t(spark, sf_dir, "customer")
    return c.select(
        "c_custkey", F.sha2(F.col("c_name"), 256).alias("name_hash")
    )


def t7_duration_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T7 durationDays via a broadcast equi-join (orders side is the small
    dimension at any scale factor — broadcast keeps lineitem unshuffled)."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    return (
        li.join(F.broadcast(o), li.l_orderkey == o.o_orderkey)
        .select(
            "l_orderkey",
            F.col("l_linenumber").cast("long").alias("l_linenumber"),
            F.datediff(F.col("l_shipdate"), F.col("o_orderdate"))
            .cast("long")
            .alias("ship_delay_days"),
        )
    )


def p8_unit_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P8 unit conversion with a per-row source unit (the compiled
    when-chain over the unit factor table: lb rows x 0.45359237)."""
    li = _t(spark, sf_dir, "lineitem")
    unit = F.when(F.col("l_linenumber") % 2 == 1, F.lit("lb")).otherwise(F.lit("kg"))
    qty_kg = F.when(
        unit == "lb", F.col("l_quantity") * 0.45359237
    ).otherwise(F.col("l_quantity"))
    return li.select(
        "l_orderkey",
        F.col("l_linenumber").cast("long").alias("l_linenumber"),
        unit.alias("source_unit"),
        F.round(qty_kg.cast("double"), 4).alias("qty_kg"),
    )


def t4_get_float(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T4 getFloat liberal numeric extraction from o_orderpriority."""
    o = _t(spark, sf_dir, "orders")
    extracted = F.regexp_extract(F.col("o_orderpriority"), r"([-+]?\d*\.?\d+)", 1)
    return o.select(
        "o_orderkey",
        F.when(extracted != "", extracted.cast("double")).alias("priority_num"),
    )


def t10_make_date(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T10 makeDate / T13 splitDate round trip on o_orderdate components."""
    o = _t(spark, sf_dir, "orders")
    y, m, d = F.year("o_orderdate"), F.month("o_orderdate"), F.dayofmonth("o_orderdate")
    return o.select(
        "o_orderkey",
        y.cast("long").alias("y"),
        m.cast("long").alias("m"),
        d.cast("long").alias("d"),
        F.date_format(F.make_date(y, m, d), "yyyy-MM-dd").alias("rebuilt"),
    )


def v2_validation_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V2/S9: schema-predicate validation with kept-but-flagged rows and the
    aggregated error histogram."""
    o = _t(spark, sf_dir, "orders")
    error = (
        F.when(
            ~F.col("o_orderstatus").isin("O", "F", "P"),
            F.lit("data.o_orderstatus must be one of ['O', 'F', 'P']"),
        )
        .when(
            (F.col("o_totalprice") <= 1000.0) | (F.col("o_totalprice") > 450000.0),
            F.lit("data.o_totalprice must be in range"),
        )
    )
    return (
        o.withColumn("adtl_error", error)
        .withColumn("adtl_valid", F.col("adtl_error").isNull())
        .groupBy("adtl_valid", "adtl_error")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("adtl_valid", "adtl_error")
    )


def p14_uuid5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P14 deterministic uuid5 generated ids, computed natively (sha1 +
    hex surgery, no Python UDF).  No SQL oracle — DuckDB lacks sha1; the
    driver records the rows-only check."""
    import uuid as uuid_mod

    from adtl_spark.plans.compiler import uuid5_sql

    c = _t(spark, sf_dir, "customer")
    ns = uuid_mod.uuid5(uuid_mod.NAMESPACE_DNS, "adtl_spark.queries")
    seed = "concat_ws('|', lower(c_name), lower(c_mktsegment))"
    return c.select("c_custkey", F.expr(uuid5_sql(ns, seed)).alias("row_uuid"))


# ----------------------------------------------- spec engine on typed tables


def adtl_engine_groupby(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The actual spec engine (compile -> plan -> execute) run over the star
    schema: lineitem rows as string cells (CSV semantics), a groupBy table
    with applyCombinedType folds.  Output is the engine's canonical-string
    rendering; the oracle mirrors those semantics in SQL."""
    from adtl_spark.api import Parser

    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").cast("string").alias("orderkey"),
        F.col("l_quantity").cast("string").alias("qty"),
        F.col("l_returnflag").cast("string").alias("flag"),
    )
    spec = {
        "adtl": {
            "name": "engine_groupby",
            "description": "",
            "tables": {
                "orders_rollup": {
                    "kind": "groupBy",
                    "groupBy": "order_id",
                    "aggregation": "applyCombinedType",
                }
            },
        },
        "orders_rollup": {
            "order_id": {"field": "orderkey"},
            "min_qty": {"combinedType": "min", "fields": [{"field": "qty"}]},
            "flags": {
                "combinedType": "set",
                "excludeWhen": "none",
                "fields": [
                    {
                        "field": "flag",
                        "values": {"A": "accepted", "R": "returned", "N": "none"},
                    }
                ],
            },
            "ever_returned": {
                "combinedType": "any",
                "fields": [{"field": "flag", "values": {"R": True, "A": False, "N": False}}],
            },
        },
    }
    p = Parser(spec, spark=spark, ordered_output=False).parse_dataframe(
        li, skip_validation=True
    )
    out = p.data["orders_rollup"]
    return out.select(
        F.col("order_id").cast("long").alias("order_id"),
        F.col("min_qty"),
        F.array_join(F.col("flags"), ",").alias("flags"),
        F.col("ever_returned"),
    )


def adtl_engine_typed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same spec as ``adtl_engine_groupby`` but fed TYPED columns (long
    orderkey, double quantity) — the Spark-native path.  The compiler's
    source-dtype hints constant-fold the dynamic-typing regexes away
    (tests/test_plans.py asserts the plan is RLike-free), so this runs at
    plain-DataFrame speed while producing the identical canonical output."""
    from adtl_spark.api import Parser

    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("orderkey"),
        F.col("l_quantity").alias("qty"),
        F.col("l_returnflag").alias("flag"),
    )
    spec = {
        "adtl": {
            "name": "engine_typed",
            "description": "",
            "tables": {
                "orders_rollup": {
                    "kind": "groupBy",
                    "groupBy": "order_id",
                    "aggregation": "applyCombinedType",
                }
            },
        },
        "orders_rollup": {
            "order_id": {"field": "orderkey"},
            "min_qty": {"combinedType": "min", "fields": [{"field": "qty"}]},
            "flags": {
                "combinedType": "set",
                "excludeWhen": "none",
                "fields": [
                    {
                        "field": "flag",
                        "values": {"A": "accepted", "R": "returned", "N": "none"},
                    }
                ],
            },
            "ever_returned": {
                "combinedType": "any",
                "fields": [{"field": "flag", "values": {"R": True, "A": False, "N": False}}],
            },
        },
    }
    p = Parser(spec, spark=spark, ordered_output=False).parse_dataframe(
        li, skip_validation=True
    )
    out = p.data["orders_rollup"]
    return out.select(
        F.col("order_id").cast("long").alias("order_id"),
        F.col("min_qty"),
        F.array_join(F.col("flags"), ",").alias("flags"),
        F.col("ever_returned"),
    )


def adtl_engine_one_to_many(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The spec engine's oneToMany path over orders: two blocks with
    explicit if predicates and value maps, emitted by the single-scan
    explode plan."""
    from adtl_spark.api import Parser

    o = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").cast("string").alias("orderkey"),
        F.col("o_orderstatus").cast("string").alias("status"),
        F.col("o_orderpriority").cast("string").alias("priority"),
    )
    spec = {
        "adtl": {
            "name": "engine_o2m",
            "description": "",
            "tables": {"flags": {"kind": "oneToMany", "discriminator": "name"}},
        },
        "flags": [
            {
                "order_id": {"field": "orderkey"},
                "name": "fulfilled",
                "value": {"field": "status", "values": {"F": "yes", "O": "no", "P": "partial"}},
                "if": {"status": {"!=": "O"}},
            },
            {
                "order_id": {"field": "orderkey"},
                "name": "urgent",
                "value": "flagged",
                "if": {"priority": {"=~": "1-URGENT"}},
            },
        ],
    }
    p = Parser(spec, spark=spark, ordered_output=False).parse_dataframe(
        o, skip_validation=True
    )
    return p.data["flags"].select(
        F.col("order_id").cast("long").alias("order_id"),
        "name",
        "value",
    )


# -------------------------------------------------------- windows over events


def w1_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity) via lag + running sum —
    the batch twin of the streaming session operator."""
    e = _t(spark, sf_dir, "events")  # ts arrives as nanosecond longs
    by_user = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.col("ts") - F.lag("ts").over(by_user)
    new_session = (gap.isNull() | (gap > 1800 * 1_000_000_000)).cast("long")
    with_session = e.withColumn(
        "session_idx",
        F.sum(new_session).over(
            by_user.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    per_session = with_session.groupBy("user_id", "session_idx").agg(
        F.count(F.lit(1)).alias("n_events")
    )
    return (
        per_session.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.max("n_events").alias("max_session_events"),
        )
    )


def w2_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON property extraction from the events.props column + aggregation
    (P12-adjacent: dynamic string -> typed value)."""
    e = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        e.groupBy("event_type")
        .agg(
            F.sum(k).alias("sum_k"),
            F.count(k).alias("n_k"),
        )
        .orderBy("event_type")
    )


def w3_topn_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 events by value per user (rank window, deterministic
    tie-break) — the per-group top-k primitive."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("value").desc(), F.col("event_id").asc()
    )
    return (
        e.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select(
            "user_id",
            F.col("rank").cast("long").alias("rank"),
            "event_id",
            F.round(F.col("value"), 4).alias("value"),
        )
    )


def t3_word_substitute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T3 wordSubstituteSet: regex word-boundary matches -> sorted deduped
    substitution set (rendered as a joined string)."""
    o = _t(spark, sf_dir, "orders")
    pairs = [("URGENT|HIGH", "expedite"), ("LOW", "relaxed"), ("MEDIUM", "normal")]
    branches = [
        F.when(F.col("o_orderpriority").rlike(r"(?i)\b(?:" + w + r")\b"), F.lit(s))
        for w, s in pairs
    ]
    matches = F.array_sort(
        F.array_distinct(F.filter(F.array(*branches), lambda x: x.isNotNull()))
    )
    return o.select(
        "o_orderkey",
        F.when(F.size(matches) > 0, F.array_join(matches, ",")).alias("priority_class"),
    )


def p6_enum_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P6 enum_list: a '[a, b]'-shaped cell split and element-wise
    value-mapped (the compiled enum_list path), rendered as a joined
    string."""
    o = _t(spark, sf_dir, "orders")
    cell = F.concat(
        F.lit("["), F.col("o_orderstatus"), F.lit(", "), F.col("o_orderpriority"), F.lit("]")
    )
    elements = F.split(F.regexp_replace(cell, r"^\[+|\]+$", ""), ",")
    mapping = {
        "O": "open", "F": "fulfilled", "P": "pending",
        "1-URGENT": "u", "2-HIGH": "h", "3-MEDIUM": "m",
        "4-NOT SPECIFIED": "n", "5-LOW": "l",
    }

    def map_elem(e):
        trimmed = F.trim(e)
        out = None
        for k, v in mapping.items():
            cond = trimmed == k
            out = F.when(cond, F.lit(v)) if out is None else out.when(cond, F.lit(v))
        return out
    mapped = F.transform(elements, lambda e: F.coalesce(map_elem(e), F.lit("?")))
    return o.select(
        "o_orderkey",
        F.array_join(mapped, ",").alias("mapped_list"),
    )


def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-shaped three-way join: broadcast the filtered customer
    dimension, shuffle-join orders with lineitem, aggregate revenue.
    Demonstrates the join strategies the reference lacks entirely."""
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderdate") < F.lit("1998-01-01"))
    li = _t(spark, sf_dir, "lineitem")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderpriority")
        .agg(_quantized_sum(revenue, "revenue"))
        .filter(F.col("revenue") > 100000.0)
    )


def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-shaped six-table join: customer-orders-lineitem joined to
    supplier under the same-nation constraint, rolled up through
    nation/region.  Exercises Catalyst join REORDERING and mixed
    strategies: region/nation broadcast, the fact joins shuffle on their
    keys, the date filter pushes into the orders scan."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1997-01-01"))
    )
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(
            s,
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("n_name")
        .agg(_quantized_sum(revenue, "revenue"))
        .orderBy(F.desc("revenue"), F.asc("n_name"))
    )


Q18_QTY_THRESHOLD = 250


def q18_large_volume_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18-shaped large-volume-customer query: the HAVING subquery
    compiles to an aggregation + LEFT SEMI join (never a materialized IN
    list), then customer/orders join and a deterministic top-100."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,4)")).alias("__q"))
        .filter(F.col("__q") > Q18_QTY_THRESHOLD)
        .select("l_orderkey")
    )
    return (
        li.join(big, "l_orderkey", "left_semi")
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy(
            "c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice"
        )
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(18,4)"))
            .cast("double")
            .alias("sum_qty")
        )
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.col("o_orderdate").cast("string").alias("o_orderdate"),
            F.col("o_totalprice").cast("decimal(18,4)").cast("double").alias(
                "o_totalprice"
            ),
            "sum_qty",
        )
        .orderBy(F.desc("o_totalprice"), "o_orderdate", "o_orderkey")
        .limit(100)
    )


PRIVACY_K = 5
PRIVACY_L = 3


def privacy_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity / l-diversity audit over quasi-identifiers — the
    privacy check a clinical-data pipeline (the reference's home domain:
    sensitive hashing, dictionary privacy clamps) runs before release:
    per (nation, market-segment) equivalence class, the row count
    (k-anonymity) and the distinct count of the bucketed sensitive
    attribute (l-diversity).  One aggregation, map-side combined."""
    c = _t(spark, sf_dir, "customer")
    return (
        c.groupBy("c_nationkey", "c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct(
                F.floor(F.col("c_acctbal") / 1000).cast("long")
            ).alias("l_div"),
        )
        .select(
            "c_nationkey",
            "c_mktsegment",
            "n",
            (F.col("n") >= PRIVACY_K).alias("k_anonymous"),
            "l_div",
            (F.col("l_div") >= PRIVACY_L).alias("l_diverse"),
        )
    )


def dedup_apply_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Applying a dedup decision at scale: keep only canonical documents
    via a left-anti join against the non-canonical id set (the standard
    'filter 100 TB by a pair list' shape)."""
    docs = _t(spark, sf_dir, "documents")
    clusters = D.dedup_exact(docs)
    losers = clusters.filter(F.col("n_copies") > 1).join(
        docs.select(F.sha2(F.col("text"), 256).alias("text_hash"), "doc_id"),
        "text_hash",
    ).filter(F.col("doc_id") != F.col("canonical_id")).select("doc_id")
    kept = docs.join(losers, "doc_id", "left_anti")
    return kept.select("doc_id", "lang", "source")


def w4_rolling_aggregate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 5-row mean of event value per user (frame-based window) —
    the analytic-frame primitive."""
    e = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-4, 0)
    )
    rolling = F.avg("value").over(w)
    return e.select(
        "user_id",
        "event_id",
        F.round(rolling, 4).alias("rolling_avg_5"),
    )


def w5_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: every 'click' event gains the latest preceding-or-equal
    'view' event of the same user (Spark lacks ASOF JOIN; the operator is
    the single-shuffle union+window encoding, not a range join).  Oracle:
    DuckDB range join with a deterministic latest-first QUALIFY."""
    from adtl_spark.operators.joins import asof_join

    e = _t(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    views = e.filter(F.col("event_type") == "view").select(
        "event_id", "user_id", "ts", "value"
    )
    out = asof_join(
        clicks,
        views,
        time_col="ts",
        key_col="user_id",
        right_cols=["event_id", "value"],
        right_order="event_id",
    )
    # ts arrives as raw nanoseconds; DuckDB reads nanos-parquet at
    # microsecond precision, so compare at us
    return out.select(
        "event_id",
        "user_id",
        F.expr("ts DIV 1000").alias("ts_us"),
        F.col("matched_event_id").alias("view_event_id"),
        F.round("matched_value", 4).alias("view_value"),
    )


RANGE_WINDOW_NS = 600 * 1_000_000_000  # views within 10 min before a click


def w6_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval join at scale: per click, the count and value sum of the
    same user's views in the preceding 10 minutes.  Uses the binned
    equi-join encoding (operators.joins.range_join_binned) instead of
    Spark's quadratic per-key range join; zero-match clicks stay via a
    left join against the aggregated hits."""
    from adtl_spark.operators.joins import range_join_binned

    e = _t(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    views = e.filter(F.col("event_type") == "view").select("user_id", "ts", "value")
    pairs = range_join_binned(
        clicks,
        views,
        key_col="user_id",
        time_col="ts",
        lower=-RANGE_WINDOW_NS,
        upper=0,
        right_cols=["value"],
    )
    hits = pairs.groupBy("event_id").agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum(
            F.floor(F.col("matched_value") * 10000 + F.lit(0.5)).cast("long")
        ).alias("__qs"),
    )
    return clicks.join(hits, "event_id", "left").select(
        "event_id",
        "user_id",
        F.coalesce(F.col("__n"), F.lit(0)).cast("long").alias("n_views_10m"),
        (F.coalesce(F.col("__qs"), F.lit(0)) / 10000.0).alias("sum_view_value"),
    )


def w7_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of join: every 'click' event gains the EARLIEST
    following-or-equal 'view' event of the same user — the merge_asof
    direction='forward' semantics, same single-shuffle union+window
    encoding as w5 with the frame flipped (operators.joins.asof_join)."""
    from adtl_spark.operators.joins import asof_join

    e = _t(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    views = e.filter(F.col("event_type") == "view").select(
        "event_id", "user_id", "ts", "value"
    )
    out = asof_join(
        clicks,
        views,
        time_col="ts",
        key_col="user_id",
        right_cols=["event_id", "value"],
        right_order="event_id",
        direction="forward",
    )
    return out.select(
        "event_id",
        "user_id",
        F.expr("ts DIV 1000").alias("ts_us"),
        F.col("matched_event_id").alias("view_event_id"),
        F.round("matched_value", 4).alias("view_value"),
    )


def w8_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest as-of join: per click, whichever same-user view is closest
    in time (ties prefer the preceding view).  Both candidate frames come
    out of ONE shuffle+sort — not two asof passes (see asof_join)."""
    from adtl_spark.operators.joins import asof_join

    e = _t(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    views = e.filter(F.col("event_type") == "view").select(
        "event_id", "user_id", "ts", "value"
    )
    out = asof_join(
        clicks,
        views,
        time_col="ts",
        key_col="user_id",
        right_cols=["event_id", "value"],
        right_order="event_id",
        direction="nearest",
    )
    return out.select(
        "event_id",
        "user_id",
        F.expr("ts DIV 1000").alias("ts_us"),
        F.col("matched_event_id").alias("view_event_id"),
        F.round("matched_value", 4).alias("view_value"),
    )


WEEK_NS = 7 * 24 * 3600 * 1_000_000_000


def w9_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel (view -> click -> purchase) per user: a step counts
    only when it happens STRICTLY AFTER the previous step's first
    qualifying event — the sequence-pattern analytic every event
    warehouse runs.  Expressed as stacked conditional-min windows over
    ONE (user_id, ts) shuffle+sort: the running first-view feeds the
    click qualifier, whose running first feeds the purchase qualifier —
    no self-joins, no per-user iteration.  Emits per-user step
    timestamps and the completed-step count."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, -1
    )
    s1 = e.withColumn(
        "__ta__",
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(w),
    )
    qb = (F.col("event_type") == "click") & F.col("__ta__").isNotNull()
    s2 = s1.withColumn("__qb__", qb).withColumn(
        "__tb__", F.min(F.when(F.col("__qb__"), F.col("ts"))).over(w)
    )
    qc = (F.col("event_type") == "purchase") & F.col("__tb__").isNotNull()
    per_user = (
        s2.withColumn("__qc__", qc)
        .groupBy("user_id")
        .agg(
            F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("t_view"),
            F.min(F.when(F.col("__qb__"), F.col("ts"))).alias("t_click"),
            F.min(F.when(F.col("__qc__"), F.col("ts"))).alias("t_purchase"),
        )
    )
    steps = (
        F.when(F.col("t_purchase").isNotNull(), 3)
        .when(F.col("t_click").isNotNull(), 2)
        .when(F.col("t_view").isNotNull(), 1)
        .otherwise(0)
    )
    return per_user.select(
        "user_id",
        F.expr("t_view DIV 1000").alias("t_view_us"),
        F.expr("t_click DIV 1000").alias("t_click_us"),
        F.expr("t_purchase DIV 1000").alias("t_purchase_us"),
        steps.cast("long").alias("steps_completed"),
    )


def w10_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: users grouped by first-activity week, counted
    active per week offset — the classic triangle matrix.  Integer epoch
    arithmetic (week = ts DIV WEEK_NS); two aggregations sharing the
    user_id key and one join AQE broadcasts at report scale."""
    e = _t(spark, sf_dir, "events")
    weeks = e.select(
        "user_id", F.expr(f"ts DIV {WEEK_NS}").alias("week")
    ).distinct()
    first = weeks.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    return (
        weeks.join(first, "user_id")
        .groupBy(
            "cohort_week", (F.col("week") - F.col("cohort_week")).alias("week_offset")
        )
        .agg(F.countDistinct("user_id").alias("active_users"))
    )


PMI_K = 50
PMI_MIN_COUNT = 5


def w11_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 slowly-changing-dimension build from the event log (the
    CDC-to-warehouse pattern): collapse each user's consecutive runs of
    equal event_type into validity intervals [valid_from, valid_to).

    Shape: two window passes over the same (user_id, ts, event_id)
    ordering — change detection (lag) + run numbering (running sum) —
    then a per-run aggregate and a lead() for the closing bound.  All
    three window steps share ONE partitioning (user_id), so the whole
    build is a single shuffle of the event log; at 100 TB that is the
    floor for any per-entity ordered computation."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    changed = F.when(
        F.lag("event_type").over(w).isNull()
        | (F.col("event_type") != F.lag("event_type").over(w)),
        1,
    ).otherwise(0)
    runs = ev.select(
        "user_id",
        "event_type",
        "ts",
        F.sum(changed)
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("run_id"),
    )
    per_run = runs.groupBy("user_id", "run_id").agg(
        F.first("event_type").alias("event_type"),
        F.min("ts").alias("valid_from"),
        F.count(F.lit(1)).alias("n_events"),
    )
    w_run = Window.partitionBy("user_id").orderBy("run_id")
    return per_run.select(
        "user_id",
        "event_type",
        F.col("valid_from").cast("long").alias("valid_from"),
        F.lead("valid_from").over(w_run).cast("long").alias("valid_to"),
        F.col("n_events").cast("long").alias("n_events"),
    ).orderBy("user_id", "valid_from")


def w15_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series resample + gap-fill: each user's event stream collapses
    to one row per DAY (latest event wins, deterministic (ts, event_id)
    tie-break), the per-user day grid is completed by a sequence-explode
    over [first_day, last_day], and missing days forward-fill from the
    last observed value — the time_bucket_gapfill / SAMPLE BY FILL(PREV)
    operator of time-series stores, in three narrow steps plus one
    per-user window.

    Scale shape: the daily collapse is a map-side-combined max-struct
    agg (no window over raw events); the grid explode is bounded by
    days-in-span per user, not event count; the forward-fill window
    partitions by user — parallel across users, which is the natural
    key (a single user's day series is small by construction)."""
    ev = _t(spark, sf_dir, "events")
    # _t normalizes ts to epoch-nanosecond longs (see its docstring);
    # session tz is UTC, so the micros->date cast is wall-clock-exact
    # against the oracle's CAST(ts AS DATE)
    day = F.to_date(F.timestamp_micros(F.expr("ts div 1000")))
    daily = ev.groupBy("user_id", day.alias("day")).agg(
        F.max(F.struct("ts", "event_id", "value")).getField("value").alias("v")
    )
    span = daily.groupBy("user_id").agg(
        F.min("day").alias("lo"), F.max("day").alias("hi")
    )
    grid = span.select(
        "user_id",
        F.explode(F.expr("sequence(lo, hi, interval 1 day)")).alias("day"),
    )
    j = grid.join(daily, ["user_id", "day"], "left")
    w = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return j.select(
        "user_id",
        "day",
        F.last("v", ignorenulls=True).over(w).alias("value"),
        F.col("v").isNotNull().alias("observed"),
    ).orderBy("user_id", "day")


def w16_gapfill_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear-interpolation gap fill (joins.gapfill_linear) over the same
    per-user daily grid as w15: interior missing days interpolate
    between the neighboring observations, edges clamp.  Output values
    quantize to integer micro-units so the typed hash compares exactly
    (the interpolation itself is plain double arithmetic with identical
    operator precedence in both engines)."""
    ev = _t(spark, sf_dir, "events")
    day = F.to_date(F.timestamp_micros(F.expr("ts div 1000")))
    daily = ev.groupBy("user_id", day.alias("day")).agg(
        F.max(F.struct("ts", "event_id", "value")).getField("value").alias("v")
    )
    span = daily.groupBy("user_id").agg(F.min("day").alias("lo"))
    grid_src = daily.join(F.broadcast(span), "user_id").select(
        "user_id",
        F.datediff("day", "lo").cast("long").alias("pos"),
        "v",
    )
    # complete the grid: explode every user's [0, max_pos] range
    full = (
        grid_src.groupBy("user_id")
        .agg(F.max("pos").alias("mx"))
        .select(
            "user_id",
            F.explode(F.sequence(F.lit(0).cast("long"), F.col("mx"))).alias(
                "pos"
            ),
        )
        .join(grid_src, ["user_id", "pos"], "left")
    )
    filled = J.gapfill_linear(full, "user_id", "pos", "v")
    return filled.select(
        "user_id",
        "pos",
        F.floor(F.col("filled") * 1000000 + F.lit(0.5))
        .cast("long")
        .alias("filled_q"),
        "observed",
    ).orderBy("user_id", "pos")


def w13_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type z-score outlier detection over the event stream's
    value column.  The two moments aggregate EXACTLY (decimal sums —
    order-independent, identical in both engines), the |types|-row stats
    table broadcasts back, and the flag pass is a narrow map: the classic
    two-pass anomaly scan whose only shuffle is the map-side-combined
    moment aggregation."""
    ev = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    v = F.col("value")
    stats = ev.groupBy("event_type").agg(
        F.sum(v.cast("decimal(28,6)")).cast("double").alias("__s"),
        F.sum((v * v).cast("decimal(38,12)")).cast("double").alias("__s2"),
        F.count(F.lit(1)).alias("__n"),
    )
    mean = F.col("__s") / F.col("__n")
    var = F.col("__s2") / F.col("__n") - mean * mean
    z = (v - F.col("__mean")) / F.col("__std")
    return (
        ev.join(
            F.broadcast(
                stats.select(
                    "event_type",
                    mean.alias("__mean"),
                    F.sqrt(var).alias("__std"),
                )
            ),
            "event_type",
        )
        .filter((F.col("__std") > 0) & (F.abs(z) > 3.0))
        .select(
            "event_id",
            "event_type",
            "value",
            (F.floor(z * 10000 + F.lit(0.5)) / 10000.0).alias("z"),
        )
        .orderBy("event_id")
    )


def w12_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over the event stream: counts
    and probabilities of event_type -> next event_type per user step (the
    product-analytics 'paths' primitive).  One lag window over the
    (user_id, ts, event_id) ordering — same single-shuffle floor as
    sessionize/SCD2 — then a tiny (|types|^2)-row aggregate; probabilities
    are exact-integer ratios quantized at 1e-4."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    steps = ev.select(
        F.lag("event_type").over(w).alias("src"),
        F.col("event_type").alias("dst"),
    ).filter(F.col("src").isNotNull())
    w_src = Window.partitionBy("src")
    return (
        steps.groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "src",
            "dst",
            F.col("n").cast("long").alias("n"),
            (
                F.floor(
                    F.col("n").cast("double")
                    / F.sum("n").over(w_src)
                    * 10000
                    + F.lit(0.5)
                )
                / 10000.0
            ).alias("p"),
        )
        .orderBy("src", "dst")
    )


def text_pmi_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k bigram collocations by pointwise mutual information —
    quantized-ln protocol over exact counts (text.pmi_topk)."""
    return X.pmi_topk(
        _t(spark, sf_dir, "documents"), k=PMI_K, min_count=PMI_MIN_COUNT
    )


def corpus_length_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey-fence (1.5*IQR) length outlier flags per language — exact
    nearest-rank quantiles, 2x-scaled integer fences, broadcast bound
    join (text.length_filter_iqr)."""
    return X.length_filter_iqr(_t(spark, sf_dir, "documents"))


def corpus_zipf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law OLS fit over the top-K token frequencies — quantized
    integer OLS sums, closed-form slope/intercept (text.zipf_fit)."""
    return X.zipf_fit(_t(spark, sf_dir, "documents"), k=VOCAB_K)


HIST_BIN_W = 8


def corpus_length_quantiles_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram-sketch length quantiles per language — bounded
    |groups| x |bins| state, the mergeable scale path beside the exact
    nearest-rank pass (text.length_quantiles_histogram)."""
    return X.length_quantiles_histogram(
        _t(spark, sf_dir, "documents"), bin_width=HIST_BIN_W
    )


def pipeline_corpus_assemble(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus ASSEMBLY (the composition counterpart of
    pipeline_corpus_clean's filtering): normalize text -> per-language
    Tukey-fence length filter -> domain-mixture sampling -> global
    token-budget selection -> deterministic epoch order.  One DAG of the
    round-4 operators; every stage keeps its scale shape (narrow
    normalize, broadcast quantile bounds, narrow mixture predicate,
    banded prefix sums, bucketed ranking).  Oracle: the same chain as
    one composed SQL query."""
    docs = _t(spark, sf_dir, "documents")
    normed = X.normalize_text(docs, carry=["lang", "source"]).select(
        "doc_id", "lang", "source", F.col("text_norm").alias("text")
    )
    # carry rides source/priority through the fence pass, so the pipeline
    # needs NO corpus-to-corpus join to rehydrate columns afterwards
    flags = X.length_filter_iqr(
        normed.withColumn(
            "priority",
            F.size(F.array_distinct(X.tokens(F.col("text")))).cast("long"),
        ),
        carry=["source", "priority"],
    )
    kept = flags.filter(F.col("kept"))
    sampled = SA.mixture_sample(kept, MIXTURE_WEIGHTS, default=MIXTURE_DEFAULT)
    scored = sampled.select("doc_id", "n_tokens", "priority")
    sel = SA.select_until_budget(scored, TOKEN_BUDGET)
    return SA.deterministic_shuffle(sel).select(
        "doc_id", "priority", "n_tokens", "cum_tokens", "shuffle_pos"
    )


def olap_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP aggregation (lang, source) -> subtotals -> grand total over
    the corpus — Catalyst's native grouping-sets expansion; one shuffle,
    map-side partial aggs for every grouping set.  NULL marks the
    rolled-up level, as in ANSI SQL."""
    d = _t(spark, sf_dir, "documents")
    return d.rollup("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
    )


def _layout_zorder_oracle_sql() -> str:
    "DuckDB twin of layout_zorder_key (same bucket-normalize + interleave)."
    from adtl_spark.sources.io import zorder_key_sql

    bits = 12
    full = (1 << bits) - 1
    z = zorder_key_sql(["zb_n", "zb_d"], bits)
    return f"""
    WITH stats AS (
      SELECT min(n_chars) AS nlo, max(n_chars) AS nhi,
             min(doc_id) AS dlo, max(doc_id) AS dhi
      FROM documents
    ),
    b AS (
      SELECT doc_id,
             ((n_chars - nlo) * {full}) // greatest(1, nhi - nlo) AS zb_n,
             ((doc_id - dlo) * {full}) // greatest(1, dhi - dlo) AS zb_d
      FROM documents CROSS JOIN stats
    )
    SELECT doc_id, CAST({z} AS BIGINT) AS zkey FROM b ORDER BY doc_id
    """


def emb_jl_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss sign projection 64 -> 16 dims
    (similarity.jl_project): literal sign matrix, one fold per output
    coordinate, zero shuffle — the data-independent dimensionality cut
    (contrast emb_pca_project's fitted one)."""
    emb = _t(spark, sf_dir, "embeddings")
    return S.jl_project(emb, k=16, dim=EMB_DIM)


def layout_zorder_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering key over (n_chars, doc_id), both
    bucket-normalized to 12 bits from observed min/max — the layout
    primitive behind multi-dimensional data skipping (io.zorder_key /
    write_zordered; row-group pruning measured by
    tools/zorder_pruning.py: ~70-75% of row groups skipped on EITHER
    dimension vs 88%/0% for a 1-D sort).  Pure integer bit math, exact
    oracle."""
    from adtl_spark.sources.io import zorder_key

    docs = _t(spark, sf_dir, "documents")
    bits = 12
    full = (1 << bits) - 1
    stats = docs.agg(
        F.min("n_chars").alias("nlo"),
        F.max("n_chars").alias("nhi"),
        F.min("doc_id").alias("dlo"),
        F.max("doc_id").alias("dhi"),
    )
    b = docs.crossJoin(F.broadcast(stats)).select(
        "doc_id",
        F.expr(f"((n_chars - nlo) * {full}) div greatest(1, nhi - nlo)").alias(
            "zb_n"
        ),
        F.expr(f"((doc_id - dlo) * {full}) div greatest(1, dhi - dlo)").alias(
            "zb_d"
        ),
    )
    return b.select(
        "doc_id",
        zorder_key([F.col("zb_n"), F.col("zb_d")], bits).alias("zkey"),
    ).orderBy("doc_id")


def sample_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled mixture (sampling.temperature_sample): per-source
    keep-rates derived from observed counts at the sqrt temperature
    (alpha=0.5 — chosen because sqrt/divide are correctly rounded, so the
    derived thresholds are bit-identical across engines), then the same
    narrow salted-hash Bernoulli as every sampler here."""
    docs = _t(spark, sf_dir, "documents")
    return SA.temperature_sample(docs).orderBy("doc_id")


TRIANGLE_TOP_EDGES = 20000


def graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count over the BACKBONE of the supplier co-occurrence
    graph: the top-20k strongest ties by (weight DESC, src, dst), then
    graph.triangle_count's degree-oriented wedge join.

    The backbone cut is the semantic point, not a shortcut: the raw
    co-occurrence graph here is 91% dense (1000 suppliers, 454k of 500k
    possible edges at sf0.1 — almost any two suppliers share SOME
    order), where triangle count is ~C(n,3) and means nothing; tie
    strength is what carries signal, and the strongest-K cut is the
    standard backbone construction.  It also bounds the work at any
    scale factor: triangles enumerate Omega(output), so the operator
    cost on a near-complete graph is the problem's size, not the plan
    (measured: 17.8 s un-thresholded vs ~2 s on the backbone at sf0.1).
    The cut is deterministic (total order), so the oracle replays it."""
    li = _t(spark, sf_dir, "lineitem")
    edges = G.cooccurrence_edges(li, "l_orderkey", "l_suppkey")
    backbone = (
        edges.filter(F.col("src") < F.col("dst"))
        .orderBy(F.desc("w"), F.asc("src"), F.asc("dst"))
        .limit(TRIANGLE_TOP_EDGES)
    )
    return G.triangle_count(backbone)


def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic video frame sampling on METADATA only — the
    scheduling half of a frame-extraction pipeline (the codec decode
    itself is the documented environmental stub): synthesize per-doc
    duration/fps, emit every 24th frame index capped at 8 frames per
    video as (media_id, frame_idx, t_ms).  A narrow sequence-explode;
    at 100 TB the output is the work list a decode stage consumes,
    partitioned by media_id."""
    docs = _t(spark, sf_dir, "documents")
    fps = 24
    step = 24
    cap = 8
    meta = docs.select(
        F.col("doc_id").alias("media_id"),
        (F.col("n_chars") * 40).alias("duration_ms"),
    )
    # integer `div` throughout: DuckDB's CAST(double AS BIGINT) ROUNDS
    # while Spark's cast truncates, so any float division here would
    # diverge at fractional frame counts
    n_frames = F.expr(f"(duration_ms * {fps}) div 1000")
    last = F.least(
        F.lit(cap - 1).cast("long"),
        F.when(n_frames > 0, F.expr(f"((duration_ms * {fps}) div 1000 - 1) div {step}"))
        .otherwise(F.lit(-1).cast("long")),
    )
    return (
        meta.select(
            "media_id",
            F.explode(
                F.when(
                    last >= 0, F.sequence(F.lit(0).cast("long"), last)
                ).otherwise(F.expr("array()").cast("array<long>"))
            ).alias("s"),
        )
        .select(
            "media_id",
            (F.col("s") * step).alias("frame_idx"),
            F.expr(f"(s * {step} * 1000) div {fps}").alias("t_ms"),
        )
        .orderBy("media_id", "frame_idx")
    )


def w14_rank_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The remaining rank-family window functions in one query:
    percent_rank, cume_dist and ntile(4) per language over document
    length with a deterministic (n_chars, doc_id) order.  Partitioned by
    lang — no global single-partition window; the rational outputs
    ((rank-1)/(n-1), rank/n) are exact in both engines."""
    docs = _t(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy("n_chars", "doc_id")
    return docs.select(
        "doc_id",
        "lang",
        "n_chars",
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
        F.ntile(4).over(w).cast("long").alias("quartile"),
    )


def text_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact frequent tokens (count > n/150) via a per-partition
    Misra-Gries sketch pass (at most k rows leave any partition) + exact
    recount of the sketch-bounded candidate set — see
    sketches.heavy_hitters.  The oracle states the exact contract; the
    sketch is acceleration only."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(F.explode(X.tokens(F.col("text"))).alias("item"))
    return SK.heavy_hitters(toks, "item", k=150)


TREND_K = 30
TREND_SHARDS = 16


def multimodal_audio_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WAV encode -> decode round trip, value-checked end to end:
    each document synthesizes a real RIFF/WAVE PCM payload with
    doc_id-derived sizing (multimodal.synthetic_wav), and the Arrow
    mapInPandas audio extractor (multimodal.extract_audio_features)
    DECODES the bytes back to format facts.  The oracle states the
    sizing arithmetic directly — a decoder bug (header layout, chunk
    walk, frame math) breaks the match.  Only exact-integer outputs are
    gated; RMS/peak go through libm sin() and stay pytest-pinned
    (cross-engine float protocol, operators/corpus.py docstring)."""
    from adtl_spark.operators import multimodal as M

    docs = _t(spark, sf_dir, "documents").select("doc_id")

    def build(batches):
        import pandas as pd

        for pdf in batches:
            ids = pdf["doc_id"]
            yield pd.DataFrame(
                {
                    "media_id": ids,
                    "payload": [
                        M.synthetic_wav(160 * (1 + int(i) % 30), seed=int(i))
                        for i in ids
                    ],
                }
            )

    media = docs.mapInPandas(build, schema="media_id long, payload binary")
    feats = M.extract_audio_features(media)
    return feats.select(
        "media_id", "sample_rate", "channels", "bits", "n_samples", "duration_ms"
    )


def multimodal_image_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PPM encode -> decode round trip, value-checked end to end:
    each document synthesizes a real binary P6 payload with
    doc_id-derived dimensions, the Arrow mapInPandas extractor DECODES
    the pixels through the real-decoder path, and the gated width/height
    are recovered FROM the decoded feature vector (f[0]*4096, f[1]*4096
    — exact: the /4096 normalization is a power-of-two division), so the
    match proves the header parse, not just byte bookkeeping.
    payload_bytes additionally pins the exact header+pixel layout."""
    from adtl_spark.operators import multimodal as M

    docs = _t(spark, sf_dir, "documents").select("doc_id")

    def build(batches):
        import pandas as pd

        for pdf in batches:
            ids = pdf["doc_id"]
            yield pd.DataFrame(
                {
                    "media_id": ids,
                    "payload": [
                        M.synthetic_ppm(
                            8 + int(i) % 16, 8 + (int(i) * 3) % 16, seed=int(i)
                        )
                        for i in ids
                    ],
                }
            )

    media = docs.mapInPandas(build, schema="media_id long, payload binary")
    feats = M.extract_image_features(media, use_real_decoder=True)
    return feats.select(
        "media_id",
        "payload_bytes",
        (F.element_at("feature", 1) * 4096).cast("long").alias("width"),
        (F.element_at("feature", 2) * 4096).cast("long").alias("height"),
    )


def stream_trending_finalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch finalizer over trending-token summaries
    (streaming.finalize_trending): the per-shard Misra-Gries summaries —
    produced here by the stream operator's batch twin
    (streaming.trending_summaries_batch), and by the live
    applyInPandasWithState stream in tests/test_streaming.py — are a
    superset witness of every token with count > n/(k+1); the finalizer
    exactly recounts the candidates and thresholds at n/k, so the output
    is exact and summary-order-independent.  The oracle states that
    exact contract as a frequency query."""
    from adtl_spark.streaming import stateful as ST

    docs = _t(spark, sf_dir, "documents")
    summaries = ST.trending_summaries_batch(
        docs, k=TREND_K, shards=TREND_SHARDS
    )
    return ST.finalize_trending(
        summaries, docs, k=TREND_K, shards=TREND_SHARDS
    )


def join_salted_hot_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted fact<->dim equi-join (joins.salted_join): lineitem salted
    into 16 sub-keys, supplier exploded 16 ways, then revenue rolled up
    per supplier nation.  Salting is for a hot join key a broadcast
    can't fix and AQE's skew split can't reach (it splits shuffle
    partitions, not a single key's hash bucket in a non-AQE exchange);
    the oracle is the PLAIN join — salting must be result-invariant."""
    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    j = J.salted_join(
        li.select(
            F.col("l_suppkey").alias("s_suppkey"), "l_extendedprice", "l_discount",
            "l_orderkey", "l_linenumber",
        ),
        supp,
        on="s_suppkey",
        salt_buckets=16,
    )
    return (
        j.groupBy(F.col("s_nationkey").alias("nation"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            _quantized_sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"
            ),
        )
        .orderBy("nation")
    )


def olap_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE aggregation over (lang, source): all four grouping sets in
    one shuffle (Catalyst expands the sets map-side, so the corpus scans
    ONCE — not once per set).  Distinguishes the rolled-up NULL from a
    data NULL via grouping_id, as ANSI GROUPING() does."""
    d = _t(spark, sf_dir, "documents")
    return d.cube("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.grouping_id().alias("gid"),
    )


def olap_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS ((lang), (source), ()): the general form
    rollup/cube sugar over — via Spark SQL, still a single-scan
    grouping-sets expansion."""
    d = _t(spark, sf_dir, "documents")
    d.createOrReplaceTempView("__docs_gs")
    return d.sparkSession.sql(
        """
        SELECT lang, source,
               count(*) AS n_docs,
               sum(n_chars) AS total_chars
        FROM __docs_gs
        GROUP BY GROUPING SETS ((lang), (source), ())
        """
    )


def olap_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot/crosstab: document counts lang x source (sources pivoted to
    columns from a FIXED value list — at scale an explicit list keeps the
    plan one pass; an unlisted-values pivot would first collect the
    distinct sources).  Oracle: conditional aggregation."""
    d = _t(spark, sf_dir, "documents")
    srcs = [f"src{i}" for i in range(4)]
    out = (
        d.filter(F.col("source").isin(srcs))
        .groupBy("lang")
        .pivot("source", srcs)
        .agg(F.count(F.lit(1)))
    )
    for s in srcs:
        out = out.withColumn(s, F.coalesce(F.col(s), F.lit(0)).cast("long"))
    return out


def olap_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (melt): the pivoted lang x source count matrix back to long
    (lang, source, n_docs) form via the native ``DataFrame.unpivot`` —
    wide-to-long without exploding through a UDF; the ids/values split is
    explicit so the plan is a single Expand over the pivoted relation."""
    wide = olap_pivot(spark, sf_dir)
    srcs = [f"src{i}" for i in range(4)]
    return (
        wide.unpivot("lang", srcs, "source", "n_docs")
        .orderBy("lang", "source")
    )


def pipeline_curriculum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum ordering: bucket documents into difficulty quartiles by
    length (the exact two-phase rank machinery — no global window), then
    give each document a deterministic shuffle position WITHIN its
    bucket, so training walks easy -> hard with reproducible within-
    bucket order.  Composition of the exact-quantile rank and the salted
    deterministic shuffle; output (doc_id, bucket, bucket_pos)."""
    docs = _t(spark, sf_dir, "documents")
    from pyspark.sql import Window as W

    # exact quartile via the per-lang ntile pattern collapsed to global:
    # rank by (n_chars, doc_id) in hash-banded two-phase form would need
    # the rank machinery; at bucket granularity a fixed-width expression
    # over observed min/max is the scale-safe form (one cheap agg, then a
    # narrow map — same approach as corpus_length_quantiles_hist)
    stats = docs.agg(
        F.min("n_chars").alias("lo"), F.max("n_chars").alias("hi")
    )
    b = docs.crossJoin(F.broadcast(stats)).select(
        "doc_id",
        F.least(
            F.lit(3).cast("long"),
            F.expr("((n_chars - lo) * 4) div greatest(1, hi - lo + 1)"),
        ).alias("bucket"),
    )
    # two-phase within-bucket rank (the deterministic_shuffle shape): a
    # plain window partitioned by the 4 buckets would funnel the corpus
    # through 4 partitions; sub-bucketing on the hash's high bits keeps
    # every window partition small and only the 4 x 64 counts cross the
    # per-bucket offset window
    h = SA._keyed_hash(F.col("doc_id"), "curriculum")
    nb = 64
    bw = SA.HASH_SPACE // nb
    keyed = b.select("doc_id", "bucket", h.alias("__h__")).withColumn(
        "__hb__", F.expr(f"`__h__` DIV {bw}")
    )
    local_w = W.partitionBy("bucket", "__hb__").orderBy("__h__", "doc_id")
    local = keyed.withColumn("__rn__", F.row_number().over(local_w))
    counts = keyed.groupBy("bucket", "__hb__").agg(
        F.count(F.lit(1)).alias("__n__")
    )
    off_w = (
        W.partitionBy("bucket")
        .orderBy("__hb__")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    offsets = counts.select(
        "bucket",
        "__hb__",
        F.coalesce(F.sum("__n__").over(off_w), F.lit(0)).alias("__off__"),
    )
    return (
        local.join(F.broadcast(offsets), ["bucket", "__hb__"])
        .select(
            "doc_id",
            "bucket",
            (F.col("__off__") + F.col("__rn__")).cast("long").alias("bucket_pos"),
        )
        .orderBy("bucket", "bucket_pos")
    )


# ------------------------------------------------------------- text operators


def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return X.token_stats(_t(spark, sf_dir, "documents"))


def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    return X.quality_score(_t(spark, sf_dir, "documents"))


def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    return X.lang_id(_t(spark, sf_dir, "documents"))


def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return X.fingerprint(_t(spark, sf_dir, "documents"))


def text_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub (text.redact_pii).  The synthetic corpus contains no real
    PII, so the gate enriches every 7th document with a deterministic
    email + IP suffix (mirrored in the oracle) to exercise actual
    replacements, not just pass-through."""
    df = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(
                F.col("text"),
                F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com from 10.0.0."),
                (F.col("doc_id") % 255).cast("string"),
            ),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return X.redact_pii(df)


def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repetition signals (text.repetition_stats)."""
    return X.repetition_stats(_t(spark, sf_dir, "documents"))


VOCAB_K = 50


def text_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus top-k vocabulary (text.vocab_topk)."""
    return X.vocab_topk(_t(spark, sf_dir, "documents"), k=VOCAB_K)


CHUNK_TOKENS = 32


def text_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-length chunking of the corpus (see text.chunk_documents)."""
    return X.chunk_documents(_t(spark, sf_dir, "documents"), chunk_tokens=CHUNK_TOKENS)


# --------------------------------------------------------- corpus-level ops

DECON_N = 5  # word-5-gram overlap: chance collisions on the synthetic
# 31-token vocabulary are ~0.03% per gram, so flags mean real sharing
DECON_EVAL_MOD = 20  # every 20th doc plays the held-out benchmark set
UNIGRAM_VOCAB_K = 20  # < the corpus's 31 distinct tokens, so the
# out-of-vocabulary floor path is exercised


def corpus_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: training docs sharing any word 5-gram
    with the pseudo-benchmark slice (every 20th doc).  The eval shingle
    set broadcasts; the corpus never shuffles (corpus.decontaminate)."""
    docs = _t(spark, sf_dir, "documents")
    ev = docs.filter(F.col("doc_id") % DECON_EVAL_MOD == 0)
    tr = docs.filter(F.col("doc_id") % DECON_EVAL_MOD != 0)
    return C.decontaminate(tr, ev, n=DECON_N)


NGRAM_TOPK_N = 2
NGRAM_TOPK_K = 50


def text_ngram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide top-k bigrams by occurrence count — boilerplate /
    collocation mining.  Narrow n-gram construction, map-side partial
    count, one (ngram, count) shuffle (text.ngram_topk)."""
    return X.ngram_topk(
        _t(spark, sf_dir, "documents"), n=NGRAM_TOPK_N, k=NGRAM_TOPK_K
    )


CMS_DEPTH = 4
CMS_WIDTH = 1024


def text_cms_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min-sketch frequency estimation, self-validated: estimate
    the exact top-VOCAB_K tokens through a depth x width sketch and emit
    (token, n_exact, n_est) — est >= exact always, equal when no cell
    collides.  The sketch is the bounded-memory merge-friendly scale
    path for 100 TB token counting (text.cms_build / cms_estimate)."""
    docs = _t(spark, sf_dir, "documents")
    exact = X.vocab_topk(docs, k=VOCAB_K).select(
        "token", F.col("n").cast("long").alias("n_exact")
    )
    sketch = X.cms_build(docs, depth=CMS_DEPTH, width=CMS_WIDTH)
    est = X.cms_estimate(
        sketch, exact.select("token"), depth=CMS_DEPTH, width=CMS_WIDTH
    )
    return exact.join(est, "token").select("token", "n_exact", "n_est")


def text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style text normalization: control-char strip, typographic
    fold, Unicode-space canonicalization, whitespace collapse — a pure
    regexp_replace chain fused into the scan (text.normalize_text)."""
    return X.normalize_text(_t(spark, sf_dir, "documents"))


BM25_QUERIES = [(1, "hash join spark"), (2, "columnar scan filter"), (3, "sort merge batch")]
BM25_K = 5


def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 retrieval: top-k documents per query over the corpus —
    integer-quantized Okapi scoring, broadcast query terms, per-query
    top-k window (text.bm25_topk)."""
    qdf = spark.createDataFrame(BM25_QUERIES, "query_id long, query string")
    return X.bm25_topk(_t(spark, sf_dir, "documents"), qdf, k=BM25_K)


def corpus_decontaminate_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-screened decontamination: same train/eval split as
    corpus_decontaminate, but the eval side compresses to a fixed-size
    bit-array table instead of a broadcast shingle set — the scale path
    when the benchmark union is too big to broadcast exactly.  The flag
    is a superset screen (no false negatives); the oracle replays the
    filter bit-for-bit including false positives
    (corpus.decontaminate_bloom)."""
    docs = _t(spark, sf_dir, "documents")
    ev = docs.filter(F.col("doc_id") % DECON_EVAL_MOD == 0)
    tr = docs.filter(F.col("doc_id") % DECON_EVAL_MOD != 0)
    return C.decontaminate_bloom(tr, ev, n=DECON_N)


TFIDF_K = 3


def text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 characteristic terms per document by tf-idf with integer-
    exact ranking (text.tfidf_topk)."""
    return X.tfidf_topk(_t(spark, sf_dir, "documents"), k=TFIDF_K)


def corpus_length_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language length statistics with an exact middle-element median
    (text.length_stats_by_group) — no percentile sketch, no engine-
    specific interpolation."""
    return X.length_stats_by_group(_t(spark, sf_dir, "documents"))


PACK_BUDGET = 128  # four 32-token chunks per training context


def corpus_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing decision table: chunk the corpus, lay chunks
    end-to-end in (doc_id, chunk_id) order, slice into 128-token training
    contexts via a distributed two-phase prefix sum (text.pack_chunks —
    no global single-task window)."""
    chunks = X.chunk_documents(
        _t(spark, sf_dir, "documents"), chunk_tokens=CHUNK_TOKENS
    ).select("doc_id", "chunk_id", "n_tokens")
    return X.pack_chunks(chunks, budget=PACK_BUDGET)


# DuckDB chunk relation (doc_id, chunk_id, n_tokens, chunk_text) — shared
# by the text_chunk oracle and the pack_texts composition
CHUNK_ORACLE_SQL = f"""
            WITH t AS (
              SELECT doc_id,
                     list_filter(string_split_regex(lower(text), '\\s+'), t -> t != '') AS toks
              FROM documents
            ),
            -- chunk-index bound derived from the corpus max token count
            -- (same rationale as corpus_pack: a hardcoded cap would
            -- silently truncate long documents in the oracle only)
            nums AS (
              SELECT unnest(range(0, (
                SELECT CAST(ceil(max(len(toks)) / CAST({CHUNK_TOKENS} AS DOUBLE)) AS BIGINT)
                FROM t
              ))) AS ci
            )
            SELECT doc_id,
                   CAST(ci AS BIGINT) AS chunk_id,
                   CAST(len(toks[ci * {CHUNK_TOKENS} + 1 : ci * {CHUNK_TOKENS} + {CHUNK_TOKENS}]) AS BIGINT) AS n_tokens,
                   array_to_string(toks[ci * {CHUNK_TOKENS} + 1 : ci * {CHUNK_TOKENS} + {CHUNK_TOKENS}], ' ') AS chunk_text
            FROM t JOIN nums ON ci < ceil(len(toks) / CAST({CHUNK_TOKENS} AS DOUBLE))
"""


def corpus_pack_texts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packed training contexts MATERIALIZED: the packing decision joined
    back to the chunk texts and concatenated per pack in stream order —
    the final "emit the examples" step (text.pack_texts; in-row
    array_sort makes the concatenation partition-order-independent)."""
    chunks = X.chunk_documents(
        _t(spark, sf_dir, "documents"), chunk_tokens=CHUNK_TOKENS
    )
    packed = X.pack_chunks(
        chunks.select("doc_id", "chunk_id", "n_tokens"), budget=PACK_BUDGET
    )
    return X.pack_texts(packed, chunks.select("doc_id", "chunk_id", "chunk_text"))


def corpus_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM quality score: mean ln p(token) per document under a
    top-K corpus-trained model with an OOV floor (corpus.unigram_logprob)
    — the CCNet-style perplexity filter, DataFrame-native."""
    return C.unigram_logprob(
        _t(spark, sf_dir, "documents"), vocab_k=UNIGRAM_VOCAB_K
    )


# ------------------------------------------------------------ sampling/splits

SAMPLE_FRACTION = 0.1
STRATA_K = 20
SPLIT_WEIGHTS = {"train": 0.8, "valid": 0.1, "test": 0.1}


def sample_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic Bernoulli corpus sample (sampling.hash_sample)."""
    return SA.hash_sample(_t(spark, sf_dir, "documents"), SAMPLE_FRACTION).select(
        "doc_id", "lang", "source"
    )


def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact k exemplars per language (sampling.stratified_sample)."""
    return SA.stratified_sample(
        _t(spark, sf_dir, "documents"), strata_col="lang", k=STRATA_K
    ).select("doc_id", "lang")


def split_train_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-bucket train/valid/test assignment (sampling.train_test_split)."""
    return SA.train_test_split(_t(spark, sf_dir, "documents"), SPLIT_WEIGHTS).select(
        "doc_id", "split"
    )


BIGRAM_M = 200


def corpus_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM quality scoring with stupid backoff — sequence-aware
    perplexity filtering; bounded broadcast model, literal vocab map,
    narrow bigram extraction (corpus.bigram_logprob)."""
    return C.bigram_logprob(
        _t(spark, sf_dir, "documents"), vocab_k=UNIGRAM_VOCAB_K, bigram_m=BIGRAM_M
    )


def pref_krippendorff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Krippendorff's alpha over a panel WITH MISSING RATINGS — the case
    Fleiss cannot handle: the 5-rater synthetic labels drop every third
    rating (event_id % 3 = 0), leaving variable per-unit rating counts,
    and alpha computes from the coincidence-matrix formulation with
    units under 2 ratings excluded and counted.  The per-unit
    disagreement quantizes to 1e-6 integers before summing (the drift-
    gate protocol — integer sums are partition-order-free), so the
    oracle replays the whole computation exactly
    (operators/feedback.py:krippendorff_alpha)."""
    from adtl_spark.operators.feedback import krippendorff_alpha

    ev = _t(spark, sf_dir, "events").select("event_id", "value")
    labels = ev.filter(F.col("event_id") % 3 != 0).select(
        (F.col("event_id") / 5).cast("long").alias("item"),
        (F.col("event_id") % 5).alias("rater"),
        (F.floor(F.col("value") * 10).cast("long") % 4).alias("label"),
    )
    return krippendorff_alpha(labels)


def tokenizer_unigram_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM (SentencePiece-style, Kudo 2018) tokenization end to
    end: substring seeding + two Viterbi-EM rounds train a 60-piece
    model on the corpus word table, then every document is segmented
    under it (Viterbi over the distinct-word relation, broadcast
    model).  ROWS_ONLY: the Viterbi DP has no SQL twin; correctness is
    pinned by the local-vs-distributed model-identity differential and
    the brute-force segmentation-optimality test in
    tests/test_round12.py (tokenizer.unigram_train/_segment_model)."""
    from adtl_spark.operators.tokenizer import (
        unigram_segment_model,
        unigram_train,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    model = [tuple(r) for r in unigram_train(docs, vocab_size=60, iters=2).collect()]
    return _ckpt_order(unigram_segment_model(docs, model), "doc_id")


def corpus_kn_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram scoring — the standard n-gram
    smoothing next to the stupid-backoff scorer: discounted bigram MLE
    interpolated with the distinct-predecessor continuation
    distribution; bounded broadcast model, continuation stats as
    (K+1)-row stream aggregates (corpus.kn_bigram_logprob)."""
    return C.kn_bigram_logprob(
        _t(spark, sf_dir, "documents"),
        vocab_k=UNIGRAM_VOCAB_K,
        bigram_m=BIGRAM_M,
    )


MIXTURE_WEIGHTS = {"src0": 1.0, "src1": 0.5, "src2": 0.25}
MIXTURE_DEFAULT = 0.1
TOKEN_BUDGET = 15_000


def sample_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixture sampling: per-source keep rates (keep all of src0,
    half of src1, a tenth of everything else) via a narrow per-group
    hash threshold (sampling.mixture_sample)."""
    return SA.mixture_sample(
        _t(spark, sf_dir, "documents"),
        MIXTURE_WEIGHTS,
        default=MIXTURE_DEFAULT,
    ).select("doc_id", "source")


def corpus_budget_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget selection: keep the highest-priority documents
    (priority = distinct-token count, an exact integer quality proxy)
    until the running token total reaches TOKEN_BUDGET — two-phase
    distributed prefix sum, no global window
    (sampling.select_until_budget)."""
    docs = _t(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id",
        F.size(X.tokens(F.col("text"))).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(X.tokens(F.col("text")))).cast("long").alias(
            "priority"
        ),
    )
    return SA.select_until_budget(scored, TOKEN_BUDGET)


GROUP_TOKEN_BUDGET = 1_500


def corpus_budget_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain token caps: within each source keep the best documents
    until that source's token budget fills — every window in the plan is
    (group, band)- or group-partitioned, none single-partition
    (sampling.select_until_budget_by_group)."""
    docs = _t(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id",
        "source",
        F.size(X.tokens(F.col("text"))).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(X.tokens(F.col("text")))).cast("long").alias(
            "priority"
        ),
    )
    return SA.select_until_budget_by_group(scored, GROUP_TOKEN_BUDGET)


def corpus_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible epoch shuffle: dense global training order by salted
    key hash, two-phase bucketed ranking — no single-partition sort of
    the corpus (sampling.deterministic_shuffle)."""
    return SA.deterministic_shuffle(_t(spark, sf_dir, "documents")).select(
        "doc_id", "source", "shuffle_pos"
    )


# ------------------------------------------------------------------- de-dup


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.dedup_exact(_t(spark, sf_dir, "documents"))


JACCARD_THRESHOLD = 0.5
SHINGLE_N = 3
MAX_DF_FRAC = 0.2


def dedup_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.dedup_ngram_jaccard(
        _t(spark, sf_dir, "documents"),
        threshold=JACCARD_THRESHOLD,
        n=SHINGLE_N,
        max_doc_freq_frac=MAX_DF_FRAC,
    )


MINHASH_K = 16
MINHASH_BANDS = 4
MINHASH_THRESHOLD = 0.5


def dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.dedup_minhash_lsh(
        _t(spark, sf_dir, "documents"),
        k=MINHASH_K,
        bands=MINHASH_BANDS,
        threshold=MINHASH_THRESHOLD,
        n=SHINGLE_N,
    )


def dedup_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected-components clustering over SimHash near-dup pairs: every
    doc labeled with the smallest doc_id in its component, via O(log d)
    pointer-jumping rounds.  Oracle: recursive-CTE transitive closure —
    the iterative Spark algorithm is still value-checked."""
    docs = _t(spark, sf_dir, "documents")
    # signature-contracted twin of cluster_pairs(simhash_pairs(docs)) —
    # identical output, ~6x less shuffle (dedup.simhash_components)
    return D.simhash_components(docs).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("canonical_id").cast("long").alias("canonical_id"),
    )


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.simhash(_t(spark, sf_dir, "documents"))


COSINE_THRESHOLD = 0.8


def dedup_tfidf_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted near-dup pairs: idf-weighted shingle cosine >= 0.8 via the
    df-capped inverted-index join; exact integer unit-vector dot protocol
    (dedup.tfidf_cosine_pairs)."""
    return D.tfidf_cosine_pairs(
        _t(spark, sf_dir, "documents"),
        threshold=COSINE_THRESHOLD,
        n=SHINGLE_N,
        max_doc_freq_frac=MAX_DF_FRAC,
    )


def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup application with a QUALITY policy: per SimHash near-dup
    cluster keep the highest-scoring member (distinct-token count, exact
    integer), not the min-id one — cluster-partitioned best-pick window
    over the small duplicate population, one corpus anti-join
    (dedup.keep_best_representative)."""
    docs = _t(spark, sf_dir, "documents")
    scored = docs.withColumn(
        "__q__", F.size(F.array_distinct(X.tokens(F.col("text")))).cast("long")
    )
    clusters = D.simhash_components(docs)
    return D.keep_best_representative(scored, clusters, "__q__").select(
        "doc_id", "lang", "source"
    )


# the synthetic 64-dim embeddings top out near cosine 0.51; 0.35 yields a
# non-trivial pair set at verification scale
NEARDUP_TAU = 0.35


NEARDUP_PLANES = 8


def dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    # planes=0: exact all-pairs twin of the oracle at verification scale
    return S.embedding_neardup(
        _t(spark, sf_dir, "embeddings"), tau=NEARDUP_TAU, planes=0
    )


def dedup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB embedding-dedup path: hyperplane-LSH bucketing restricts
    candidate pairs to same-signature buckets (equi-join on a BIGINT key
    instead of an all-pairs cross join).  The oracle mirrors the signature
    bit-for-bit, so the bucketed result — including its recall loss — is
    value-checked, not just row-counted."""
    return S.embedding_neardup(
        _t(spark, sf_dir, "embeddings"), tau=NEARDUP_TAU, planes=NEARDUP_PLANES
    )


def dedup_embedding_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured recall of BOTH LSH structures against the exact all-pairs
    truth at tau=0.35 — one row per path.

    ``single_bucket``: full 8-bit signature; collision probability at
    this low tau is (1-θ/π)^8 ≈ 0.020 in theory, and the measured recall
    (~0.022) CONFIRMS the model — the calibration that lets you size
    planes for a target tau at 100 TB.  ``banded_4x2``: 4 bands × 2 bits
    with OR-amplification, 1-(1-p²)⁴ ≈ 0.85 in theory — the structure a
    low-tau regime needs (at the cost of weaker pruning; at genuinely
    high tau the single bucket prunes AND recalls).  Same
    measured-approximation pattern as dedup_minhash_recall."""
    emb = _t(spark, sf_dir, "embeddings")
    # checkpointed: BOTH measured paths grade against the same all-pairs
    # truth — without the cut the quadratic truth join would execute once
    # per measure() call (Spark plans trees, not DAGs)
    truth = cut(
        S.embedding_neardup(emb, tau=NEARDUP_TAU, planes=0).select(
            "id_a", "id_b", F.lit(1).alias("t")
        )
    )

    def measure(path: str, **kw) -> DataFrame:
        found = S.embedding_neardup(emb, tau=NEARDUP_TAU, **kw).select(
            "id_a", "id_b", F.lit(1).alias("f")
        )
        j = truth.join(found, ["id_a", "id_b"], "full_outer")
        n_true = F.sum(F.coalesce(F.col("t"), F.lit(0)))
        n_hit = F.sum(
            F.when(
                F.col("t").isNotNull() & F.col("f").isNotNull(), 1
            ).otherwise(0)
        )
        return j.agg(
            F.lit(path).alias("path"),
            n_true.cast("long").alias("n_true"),
            F.sum(F.coalesce(F.col("f"), F.lit(0)))
            .cast("long")
            .alias("n_found"),
            n_hit.cast("long").alias("n_hit"),
            (
                F.floor(
                    n_hit.cast("double") / n_true.cast("double") * 10000
                    + F.lit(0.5)
                )
                / 10000.0
            ).alias("recall"),
        )

    return measure("single_bucket", planes=NEARDUP_PLANES).unionByName(
        measure("banded_4x2", planes=NEARDUP_PLANES, bands=4)
    )


# ---------------------------------------------------------------- similarity

ANN_K = 5
ANN_QUERIES = 5


def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.orderBy("vec_id").limit(ANN_QUERIES)
    return S.cosine_topk(emb, queries, k=ANN_K)


LSH_PLANES = 6
LSH_SEED = 1234


def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed ANN.  The hyperplanes are deterministic LCG literals,
    so although the method is approximate relative to exact top-k, it is
    exactly reproducible — the DuckDB oracle mirrors the planes and bucket
    join and value-checks the approximate result itself."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.orderBy("vec_id").limit(ANN_QUERIES)
    return S.ann_lsh(emb, queries, dim=64, k=ANN_K, planes=LSH_PLANES, seed=LSH_SEED)


def ann_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured recall@k of the LSH-bucketed ANN against exact cosine
    top-k for the same queries — one row (n_exact, n_hit, recall_at_k).

    Measured on this corpus: 0.04 single-probe -> 0.20 with Hamming-1
    multi-probe (the default).  The remaining gap is the regime, not the
    implementation: this synthetic corpus's nearest neighbors sit at
    cosine 0.35-0.5 where sign-LSH bits disagree ~1/3 of the time —
    sign-LSH is a high-similarity structure; below ~0.7 the IVF path
    (ann_ivf, multi-probe over data-derived centroids) is the right
    bucketing and is gated separately.  Keeping the measurement in the
    gate is the point: the number that picks the index is computed, not
    assumed."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.orderBy("vec_id").limit(ANN_QUERIES)
    exact = S.cosine_topk(emb, queries, k=ANN_K).select(
        "query_id", "corpus_id", F.lit(1).alias("t")
    )
    approx = S.ann_lsh(
        emb, queries, dim=64, k=ANN_K, planes=LSH_PLANES, seed=LSH_SEED
    ).select("query_id", "corpus_id", F.lit(1).alias("f"))
    j = exact.join(approx, ["query_id", "corpus_id"], "left")
    n_exact = F.count(F.lit(1))
    n_hit = F.sum(F.coalesce(F.col("f"), F.lit(0)))
    return j.agg(
        n_exact.cast("long").alias("n_exact"),
        n_hit.cast("long").alias("n_hit"),
        (
            F.floor(
                n_hit.cast("double") / n_exact.cast("double") * 10000
                + F.lit(0.5)
            )
            / 10000.0
        ).alias("recall_at_k"),
    )


PQ_M = 8
PQ_KS = 64


def ann_l2_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-k Euclidean neighbors (quantized squared L2) — the
    ground truth the PQ gate measures against, gated on its own."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.orderBy("vec_id").limit(ANN_QUERIES)
    return S.l2_topk(emb, queries, k=ANN_K)


def ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (similarity.ann_pq): corpus encoded to
    8 sub-space codes (narrow map — the persisted index at scale),
    queries score candidates via quantized ADC lookup tables inside one
    codegen'd expression.  Deterministic codebooks (lowest-id vectors'
    sub-slices), so the oracle replays the whole index exactly."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.orderBy("vec_id").limit(ANN_QUERIES)
    return S.ann_pq(emb, queries, m=PQ_M, ks=PQ_KS, k=ANN_K, dim=EMB_DIM)


def ann_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured recall@k of PQ ADC ranking against exact L2 top-k — the
    compression-loss number that sizes a PQ index.  Recall reflects
    quantization error only (ADC scores every pair, no bucketing loss):
    measured 0.20 at ks=16 -> 0.36 at the gate's ks=64 on this corpus —
    the codebook-size/recall trade made the measured way."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.orderBy("vec_id").limit(ANN_QUERIES)
    exact = S.l2_topk(emb, queries, k=ANN_K).select(
        "query_id", "corpus_id", F.lit(1).alias("t")
    )
    approx = S.ann_pq(
        emb, queries, m=PQ_M, ks=PQ_KS, k=ANN_K, dim=EMB_DIM
    ).select("query_id", "corpus_id", F.lit(1).alias("f"))
    j = exact.join(approx, ["query_id", "corpus_id"], "left")
    n_exact = F.count(F.lit(1))
    n_hit = F.sum(F.coalesce(F.col("f"), F.lit(0)))
    return j.agg(
        n_exact.cast("long").alias("n_exact"),
        n_hit.cast("long").alias("n_hit"),
        (
            F.floor(
                n_hit.cast("double") / n_exact.cast("double") * 10000
                + F.lit(0.5)
            )
            / 10000.0
        ).alias("recall_at_k"),
    )


PQ_TRAIN_ITERS = 2
PQ_TRAIN_KS = 16   # Lloyd helps at ks=16 (0.32 vs 0.20 untrained); hurts at 64
PQ_RERANK_SHORTLIST = 100


def ann_pq_trained_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ ANN with LLOYD-TRAINED per-subspace codebooks
    (similarity.ann_pq(train_iters=..)): the training step real PQ
    indexes run when quantization error matters.  The oracle replays the
    whole per-subspace k-means chain (seeding, floor-1e6 means,
    dead-cluster dropout) as unrolled CTEs, so the TRAINING itself is
    value-checked, not just the lookup."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.orderBy("vec_id").limit(ANN_QUERIES)
    return S.ann_pq(
        emb, queries, m=PQ_M, ks=PQ_TRAIN_KS, k=ANN_K, dim=EMB_DIM,
        train_iters=PQ_TRAIN_ITERS,
    )


def ann_pq_rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ ADC shortlist + exact re-rank (similarity.ann_pq_rerank): the
    deployment shape that buys production recall — raw vectors touched
    only for the per-query shortlist, never corpus-wide."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.orderBy("vec_id").limit(ANN_QUERIES)
    return S.ann_pq_rerank(
        emb, queries, m=PQ_M, ks=PQ_KS, k=ANN_K,
        shortlist=PQ_RERANK_SHORTLIST, dim=EMB_DIM,
    )


def ann_pq_rerank_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured recall@k of the rerank path against exact L2 — the
    recall/latency crossover record: plain ADC at ks=64 measures 0.36
    recall@5 on this corpus; a 100-candidate shortlist (20% of this toy
    corpus, a vanishing fraction at scale) re-ranked exactly measures
    0.88 at the cost of |queries| x shortlist raw-vector reads."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.orderBy("vec_id").limit(ANN_QUERIES)
    exact = S.l2_topk(emb, queries, k=ANN_K).select(
        "query_id", "corpus_id", F.lit(1).alias("t")
    )
    approx = S.ann_pq_rerank(
        emb, queries, m=PQ_M, ks=PQ_KS, k=ANN_K,
        shortlist=PQ_RERANK_SHORTLIST, dim=EMB_DIM,
    ).select("query_id", "corpus_id", F.lit(1).alias("f"))
    j = exact.join(approx, ["query_id", "corpus_id"], "left")
    n_exact = F.count(F.lit(1))
    n_hit = F.sum(F.coalesce(F.col("f"), F.lit(0)))
    return j.agg(
        n_exact.cast("long").alias("n_exact"),
        n_hit.cast("long").alias("n_hit"),
        (
            F.floor(
                n_hit.cast("double") / n_exact.cast("double") * 10000
                + F.lit(0.5)
            )
            / 10000.0
        ).alias("recall_at_k"),
    )


IVF_CENTROIDS = 16
IVF_PROBE = 4


def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-bucketed ANN: deterministic coarse quantizer (lowest-id vectors
    as centroids), narrow-map cell assignment, multi-probe queries.  The
    oracle mirrors the quantizer and probing exactly, so this one IS
    value-checked despite being an ANN method."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.orderBy("vec_id").limit(ANN_QUERIES)
    return S.ann_ivf(
        emb, queries, n_centroids=IVF_CENTROIDS, n_probe=IVF_PROBE, k=ANN_K
    )


EMB_DIM = 64
KMEANS_K = 8
KMEANS_ITERS = 2


QUANT_BITS = 8


def emb_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 scalar quantization of the embedding column — the 4x storage
    path (similarity.quantize_embeddings); zero-shuffle narrow map."""
    return S.quantize_embeddings(
        _t(spark, sf_dir, "embeddings"), bits=QUANT_BITS
    )


def emb_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroid in long (label, dim, centroid) form —
    the class-prototype aggregation (similarity.label_centroids).  Map-side
    partial agg means only label x dim cells shuffle."""
    return S.label_centroids(_t(spark, sf_dir, "embeddings"), dim=EMB_DIM)


OUTLIER_T_Q = 1_020_000_000  # dist^2 > 1.02 (the corpus's ~p90), at 1e-9 quanta


def emb_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding outlier flags: squared distance to the own-label
    centroid, exact integer-quantized; dist^2 above the fixed threshold
    marks the vector off-distribution (similarity.centroid_distances).
    Broadcast centroids; the corpus shuffles only (id, partial-sum)."""
    d = S.centroid_distances(_t(spark, sf_dir, "embeddings"), dim=EMB_DIM)
    return d.select(
        F.col("id").alias("vec_id"),
        "label",
        (F.col("dist2q").cast("double") / 1e9).alias("dist2"),
        (F.col("dist2q") > OUTLIER_T_Q).alias("is_outlier"),
    )


def emb_nearest_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-centroid classification eval: predict each vector's label
    by closest class prototype, report against the true label
    (similarity.nearest_centroid)."""
    return S.nearest_centroid(_t(spark, sf_dir, "embeddings"), dim=EMB_DIM)


def emb_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd's k-means over embeddings: deterministic init (k lowest ids),
    2 quantized-mean updates, final assignment (similarity.kmeans_assign).
    Assignment is a narrow literal-centroid argmin — the corpus never
    shuffles; each update shuffles only k x dim partial cells."""
    return S.kmeans_assign(
        _t(spark, sf_dir, "embeddings"), k=KMEANS_K, iters=KMEANS_ITERS
    )


def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (cluster-then-compare) semantic dedup: k-means the
    embeddings, drop any vector with a lower-id cluster-mate at cosine
    >= tau, keep (vec_id, cluster) survivors.  Pairwise work is capped at
    sum(|cluster|^2) — the scale path when LSH bucketing is still too
    wide (similarity.semantic_dedup)."""
    return S.semantic_dedup(
        _t(spark, sf_dir, "embeddings"),
        tau=NEARDUP_TAU,
        k=KMEANS_K,
        iters=KMEANS_ITERS,
    )


def corpus_length_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-language p25/p50/p75 token counts by integer
    nearest-rank selection — the distribution snapshot behind length
    filtering thresholds (text.length_quantiles_by_group)."""
    return X.length_quantiles_by_group(_t(spark, sf_dir, "documents"))


DUPSPAN_N = 8


def dedup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact repeated-substring spans (Lee et al. 2021 span dedup,
    relational form): maximal token spans whose 8-gram pieces occur in
    >= 2 distinct documents — inverted-index agg + semi-join + per-doc
    gaps-and-islands merge (dedup.duplicated_spans)."""
    return D.duplicated_spans(_t(spark, sf_dir, "documents"), n=DUPSPAN_N)


def dedup_spans_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span dedup APPLIED: cut every repeated span found by dedup_spans
    out of the corpus — narrow HOF token filtering against the per-doc
    span list; text never explodes into rows (dedup.remove_spans)."""
    docs = _t(spark, sf_dir, "documents")
    spans = D.duplicated_spans(docs, n=DUPSPAN_N)
    return D.remove_spans(docs, spans)


def emb_gram_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upper-triangular Gram matrix of the embedding corpus — the PCA /
    whitening input.  Narrow outer-product cells, map-side combine, one
    ~2k-cell shuffle; the embeddings never move (similarity.gram_matrix)."""
    return S.gram_matrix(_t(spark, sf_dir, "embeddings"), dim=EMB_DIM)


def multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The multimodal binary-column plumbing, value-checked end to end:
    documents' text becomes an opaque binary payload, and the REAL
    Arrow-batched mapInPandas feature extractor
    (operators.multimodal.extract_image_features) computes per-payload
    sha256 + byte length — the engine-portable subset of its output, so
    the Python-batch path itself is oracle-gated, not just unit-tested."""
    from adtl_spark.operators import multimodal as M

    docs = _t(spark, sf_dir, "documents")
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("kind"),
        F.encode("text", "UTF-8").alias("payload"),
        F.lit("application/x-text").alias("mime"),
        F.lit(None).cast(M.MEDIA_SCHEMA["meta"].dataType).alias("meta"),
    )
    feats = M.extract_image_features(media)
    return feats.select("media_id", "payload_sha256", "payload_bytes")


INCR_NEW_MOD = 4  # every 4th doc plays the incoming batch


def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingestion dedup: near-dup pairs between the incoming
    batch (every 4th doc) and the existing corpus only — corpus-vs-corpus
    pairs never recomputed, batch side broadcast
    (dedup.dedup_minhash_incremental)."""
    docs = _t(spark, sf_dir, "documents")
    new_docs = docs.filter(F.col("doc_id") % INCR_NEW_MOD == 0)
    corpus = docs.filter(F.col("doc_id") % INCR_NEW_MOD != 0)
    return D.dedup_minhash_incremental(
        new_docs,
        corpus,
        k=MINHASH_K,
        bands=MINHASH_BANDS,
        threshold=MINHASH_THRESHOLD,
        n=SHINGLE_N,
    )


def emb_kmeans_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The trained k-means model table (cluster, dim, centroid) — value-
    checks the training itself, which assignments alone underdetermine
    (similarity.kmeans_centroids)."""
    return S.kmeans_centroids(
        _t(spark, sf_dir, "embeddings"), k=KMEANS_K, iters=KMEANS_ITERS
    )


# ------------------------------------------------------- composite pipeline

QUALITY_MIN = 0.5
REPETITION_MAX = 0.08  # drop docs whose top bigram fills >8% of slots


def pipeline_corpus_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The north-star composition, end-to-end in ONE DataFrame DAG:
    quality-filter the corpus -> drop repetition-heavy documents
    (Gopher-style top-bigram cap, zero-shuffle stage) -> drop
    near-duplicates (MinHash-LSH pairs, greedy keep-lower-id) ->
    per-language doc and token counts of the surviving corpus.  Every
    stage is the same operator the standalone
    queries exercise; Catalyst sees the whole pipeline and prunes columns
    across stage boundaries (the quality stage's intermediate ratios never
    leave the first projection).

    ``barrier=True`` on the scan: this is the one query that FILTERS on
    computed per-document stats, and PushDownPredicates would otherwise
    sink those regex-heavy predicates through the repartition exchange
    into the single-split local scan stage (measured: 35 s -> 9 s at
    sf0.1; see scan_parallel)."""
    docs = _t(spark, sf_dir, "documents", barrier=True)
    # ONE fused scoring pass (r14): quality and repetition are narrow
    # per-row expressions, so the old two-pass-plus-two-joins form
    # (docs JOIN quality_ids JOIN repetition_ids) tokenized the corpus
    # twice and paid two broadcast joins for what one filter decides —
    # text.quality_repetition_keep applies the operators' own expression
    # builders (identical arithmetic/rounding) directly.  Persisted: the
    # filtered working corpus feeds pair generation, the anti-join and
    # the stats stages.
    kept = X.quality_repetition_keep(
        docs, QUALITY_MIN, REPETITION_MAX
    ).persist()
    pairs = D.dedup_minhash_lsh(
        kept,
        k=MINHASH_K,
        bands=MINHASH_BANDS,
        threshold=MINHASH_THRESHOLD,
        n=SHINGLE_N,
    )
    drop = pairs.select(F.col("id_b").alias("doc_id")).distinct()
    clean = kept.join(drop, "doc_id", "left_anti")
    # one tokenized pass yields both the language call and the token count —
    # no second tokenization, no join back
    result = (
        X.lang_id(clean, with_token_count=True)
        .groupBy("lang_pred")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tokens_ws").cast("long").alias("n_tokens"),
        )
    )
    # materialize the (tiny) per-language summary, then release BOTH
    # caches — the working corpus and the barrier scan (scan_parallel's
    # barrier mode hands cache ownership to the caller)
    return cut_and_release(result, [kept, docs])


# ------------------------------------------------------------------- oracles


def text_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog distinct-token estimate per language (p=8, 256
    registers) — the mergeable-sketch answer to ``count(DISTINCT token)``
    at 100 TB: per-group state is a fixed 256-row register table merged
    with max (map-side combine collapses each partition before the
    shuffle), vs an exact-distinct shuffle of every unique token."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        F.col("lang"), F.explode(X.tokens(F.col("text"))).alias("token")
    )
    return SK.hll_distinct(toks, F.col("token"), F.col("lang"), "lang")


def quality_nb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Naive-Bayes quality classifier trained on a curated-vs-rest weak
    label (the fastText-style GPT-3/Llama quality-filter shape): per-token
    log-odds model (50 rows, broadcast) + per-document scoring."""
    docs = _t(spark, sf_dir, "documents")
    pos = F.col("source").isin(*C.NB_CURATED_SOURCES)
    return C.nb_quality(docs, pos, vocab_k=50).orderBy("doc_id")


def q21_waiting_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21-shaped (adapted to the trimmed schema: 'late' is
    l_shipdate > o_orderdate + 90 days): suppliers who were the SOLE late
    supplier on a multi-supplier finished order.

    The oracle states it the textbook way — EXISTS + NOT EXISTS
    correlated self-joins on lineitem.  This side is the decorrelated
    plan an optimizer should reach: ONE pass over lineitem aggregated to
    (order, supplier) grain [max(late), count late rows], one more to
    order grain [supplier count, late-supplier count], then the sole-late
    filter — two cheap aggregations instead of two correlated lineitem
    self-joins, the difference between O(|li|) and O(|li|^2 / |orders|)
    work at 100 TB.  Supplier + nation dims broadcast."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    supplier = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    lo = li.join(
        orders.filter(F.col("o_orderstatus") == "F").select(
            "o_orderkey", "o_orderdate"
        ),
        li["l_orderkey"] == F.col("o_orderkey"),
    )
    late = (
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")
    ).cast("int")
    per_os = lo.groupBy("l_orderkey", "l_suppkey").agg(
        F.max(late).alias("any_late"),
        F.sum(late).alias("n_late_rows"),
    )
    # order-level rollup as a WINDOW over the (order, supplier) aggregate,
    # not a second aggregation joined back: Spark does not reuse the shared
    # subplan, so the groupBy+join form scans lineitem TWICE and SMJ-joins
    # the two branches.  The window shuffles only the per-(order, supplier)
    # relation (bounded by suppliers-per-order, << lineitem) and keeps the
    # whole query one lineitem pass.
    w_o = Window.partitionBy("l_orderkey")
    sole_late = per_os.select(
        "*",
        F.count(F.lit(1)).over(w_o).alias("n_supp"),
        F.sum("any_late").over(w_o).alias("n_late_supp"),
    ).filter(
        (F.col("any_late") == 1)
        & (F.col("n_supp") >= 2)
        & (F.col("n_late_supp") == 1)
    )
    named = sole_late.join(
        F.broadcast(
            supplier.join(
                F.broadcast(nation.filter(F.col("n_name") == "NATION_5")),
                supplier["s_nationkey"] == F.col("n_nationkey"),
            ).select("s_suppkey", "s_name")
        ),
        sole_late["l_suppkey"] == F.col("s_suppkey"),
    )
    return (
        named.groupBy("s_name")
        .agg(F.sum("n_late_rows").cast("long").alias("numwait"))
        .orderBy(F.desc("numwait"), F.asc("s_name"))
        .limit(100)
    )


def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10: customers who returned items, ranked by lost revenue
    over one quarter.  Fact-side aggregation happens BEFORE the dimension
    joins (revenue per customer first, then broadcast nation + customer
    attributes onto 20 rows' worth of groups) — the
    aggregate-then-enrich ordering that keeps the join input at customer
    grain instead of lineitem grain."""
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1996-04-01"))
    )
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    rev = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000 + F.lit(0.5)
    ).cast("long")
    per_cust = (
        li.join(
            orders.select("o_orderkey", "o_custkey"),
            li["l_orderkey"] == F.col("o_orderkey"),
        )
        .groupBy("o_custkey")
        .agg((F.sum(rev) / 10000.0).alias("revenue"))
    )
    return (
        per_cust.join(
            F.broadcast(
                cust.select("c_custkey", "c_name", "c_acctbal", "c_nationkey")
            ),
            per_cust["o_custkey"] == F.col("c_custkey"),
        )
        .join(
            F.broadcast(nation.select("n_nationkey", "n_name")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select(
            "c_custkey",
            "c_name",
            "revenue",
            F.col("c_acctbal").cast("double").alias("c_acctbal"),
            "n_name",
        )
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13: the distribution of order counts per customer — a
    count-of-counts histogram over a LEFT OUTER join (customers with zero
    qualifying orders appear in the c_count=0 bucket).  Two cascaded
    aggregations; the first reduces orders to customer grain before
    anything joins."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT"
    )
    per_cust = orders.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("c_count")
    )
    return (
        cust.select("c_custkey")
        .join(per_cust, cust["c_custkey"] == per_cust["o_custkey"], "left")
        .select(F.coalesce(F.col("c_count"), F.lit(0)).alias("c_count"))
        .groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


def dedup_minhash_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured approximation quality of the MinHash-LSH path: exact
    n-gram-Jaccard pairs (threshold 0.5, df-capped) as truth, LSH
    candidates scored at the same estimated threshold as found; one row
    (n_true, n_found, n_hit, recall).  The recall number the README's
    scale claims rest on, computed inside the correctness gate rather
    than asserted — found-but-not-true pairs mix estimator optimism with
    the df-cap asymmetry (the LSH path has no cap), so precision is NOT
    claimed here, only recall against the capped truth."""
    docs = _t(spark, sf_dir, "documents")
    # truth and found are INDEPENDENT eagerly-materialized pipelines
    # (each ends in a session.cut_and_release cut), so run
    # them from two driver threads (r14, guide §2.6 — overlap
    # independent jobs): the found side's tail back-fills executors the
    # truth side leaves idle.  Results are checkpoint-backed and
    # deterministic regardless of scheduling; job descriptions are
    # thread-local, so the UI stays labeled.
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as pool:
        f_truth = pool.submit(
            D.dedup_ngram_jaccard,
            docs,
            threshold=MINHASH_THRESHOLD,
            n=SHINGLE_N,
            max_doc_freq_frac=MAX_DF_FRAC,
        )
        f_found = pool.submit(
            D.dedup_minhash_lsh,
            docs,
            k=MINHASH_K,
            bands=MINHASH_BANDS,
            threshold=MINHASH_THRESHOLD,
            n=SHINGLE_N,
        )
        truth = f_truth.result().select("id_a", "id_b", F.lit(1).alias("t"))
        found = f_found.result().select("id_a", "id_b", F.lit(1).alias("f"))
    j = truth.join(found, ["id_a", "id_b"], "full_outer")
    n_true = F.sum(F.coalesce(F.col("t"), F.lit(0)))
    n_hit = F.sum(
        F.when(F.col("t").isNotNull() & F.col("f").isNotNull(), 1).otherwise(0)
    )
    return j.agg(
        n_true.cast("long").alias("n_true"),
        F.sum(F.coalesce(F.col("f"), F.lit(0))).cast("long").alias("n_found"),
        n_hit.cast("long").alias("n_hit"),
        (
            F.floor(
                n_hit.cast("double") / n_true.cast("double") * 10000
                + F.lit(0.5)
            )
            / 10000.0
        ).alias("recall"),
    )


def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4-shaped (late = l_shipdate > o_orderdate + 90 days on the
    trimmed schema): order counts per priority among 1996 orders with at
    least one late lineitem.  The EXISTS subquery decorrelates to a
    LEFT SEMI join — lineitem is filtered by the join itself, never
    aggregated or duplicated, the canonical semi-join reduction."""
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1997-01-01"))
    )
    li = _t(spark, sf_dir, "lineitem")
    late = orders.join(
        li,
        (orders["o_orderkey"] == li["l_orderkey"])
        & (li["l_shipdate"] > orders["o_orderdate"] + F.expr("INTERVAL 90 DAYS")),
        "left_semi",
    )
    return (
        late.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14: promo revenue share (p_type = 'PROMO') of one shipping
    month.  A conditional aggregate over one broadcast-joined scan; the
    ratio uses the exact quantized-sum protocol."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-03-01"))
        & (F.col("l_shipdate") < F.lit("1996-04-01"))
    )
    part = _t(spark, sf_dir, "part")
    rev = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000 + F.lit(0.5)
    ).cast("long")
    promo = F.col("p_type") == "PROMO"
    joined = li.join(
        F.broadcast(part.select("p_partkey", "p_type")),
        li["l_partkey"] == F.col("p_partkey"),
    )
    return joined.agg(
        (
            F.floor(
                F.sum(F.when(promo, rev).otherwise(0)).cast("double")
                / F.sum(rev).cast("double")
                * 100.0
                * 10000
                + F.lit(0.5)
            )
            / 10000.0
        ).alias("promo_revenue_pct"),
        (F.sum(rev) / 10000.0).alias("total_revenue"),
    )


def q22_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22-shaped (cntrycode -> c_nationkey on the trimmed schema,
    and — because every generated customer has orders — 'no orders'
    becomes 'no URGENT orders'): well-funded customers in a target nation
    set who never placed an urgent order.  The scalar AVG subquery
    decorrelates to a 1-row broadcast cross join; the NOT EXISTS
    decorrelates to a left-anti join against the filtered orders (the
    filter pushes below the anti join, shrinking its build side).  The
    average threshold uses the exact decimal-sum protocol so the float
    compare is bit-identical across engines."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    nations = [0, 3, 7, 11, 14, 18, 21]
    pool = cust.filter(F.col("c_nationkey").isin(nations))
    thr = pool.filter(F.col("c_acctbal") > 0.0).agg(
        (
            F.sum(F.col("c_acctbal").cast(DEC)).cast("double")
            / F.count(F.lit(1))
        ).alias("avg_bal")
    )
    return (
        pool.crossJoin(F.broadcast(thr))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(orders, pool["c_custkey"] == orders["o_custkey"], "left_anti")
        .groupBy(F.col("c_nationkey").alias("cntrycode"))
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            _dec_sum(F.col("c_acctbal"), "totacctbal"),
        )
        .orderBy("cntrycode")
    )


def q2_best_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2-shaped (no partsupp on the trimmed schema: 'supplies the
    part' = shipped it at least once, 'min cost' = max account balance):
    for each small part of one size class, the best EUROPE supplier that
    has shipped it.  The correlated min-subquery decorrelates to ONE
    row_number window over the distinct (part, supplier) pairs; the
    distinct itself is the only lineitem-sized shuffle, keyed on the
    pair, and every dimension broadcasts."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").filter(
        (F.col("p_size") == 15) & (F.col("p_type") == "SMALL")
    )
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    eu_supp = (
        supp.join(
            F.broadcast(nation), supp["s_nationkey"] == nation["n_nationkey"]
        )
        .join(F.broadcast(region), nation["n_regionkey"] == region["r_regionkey"])
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    pairs = (
        li.join(F.broadcast(part.select("p_partkey", "p_name")),
                li["l_partkey"] == F.col("p_partkey"))
        .select("p_partkey", "p_name", "l_suppkey")
        .distinct()
    )
    w = Window.partitionBy("p_partkey").orderBy(
        F.desc("s_acctbal"), F.asc("s_suppkey")
    )
    return (
        pairs.join(F.broadcast(eu_supp), pairs["l_suppkey"] == F.col("s_suppkey"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("s_acctbal", "s_name", "n_name", "p_partkey", "p_name")
        .orderBy(F.desc("s_acctbal"), F.asc("p_partkey"))
    )


def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8: one nation's market share of PROMO-part volume sold to
    ASIA customers, by year.  Numerator and denominator are exact
    quantized BIGINT sums folded into ONE conditional aggregation (no
    second scan for the nation slice); the big join is lineitem<->orders,
    everything else broadcasts."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1998-01-01"))
    )
    part = _t(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    asia_cust = (
        cust.join(
            F.broadcast(nation), cust["c_nationkey"] == nation["n_nationkey"]
        )
        .join(F.broadcast(region), nation["n_regionkey"] == region["r_regionkey"])
        .select("c_custkey")
    )
    supp_nat = supp.join(
        F.broadcast(
            nation.select(
                F.col("n_nationkey").alias("sn_key"),
                F.col("n_name").alias("supp_nation"),
            )
        ),
        supp["s_nationkey"] == F.col("sn_key"),
    ).select("s_suppkey", "supp_nation")
    vol = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000 + F.lit(0.5)
    ).cast("long")
    return (
        li.join(F.broadcast(part.select("p_partkey")),
                li["l_partkey"] == F.col("p_partkey"))
        .join(orders.select("o_orderkey", "o_custkey", "o_orderdate"),
              li["l_orderkey"] == F.col("o_orderkey"))
        .join(F.broadcast(asia_cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(supp_nat), li["l_suppkey"] == F.col("s_suppkey"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            (
                F.sum(
                    F.when(F.col("supp_nation") == "NATION_3", vol).otherwise(0)
                ).cast("double")
                / F.sum(vol).cast("double")
            ).alias("mkt_share")
        )
        .orderBy("o_year")
    )


def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9-shaped (no partsupp/supplycost on the trimmed schema:
    profit = discounted revenue): per supplier-nation per order-year
    revenue on one part-name family.  The name filter broadcasts through
    part; lineitem<->orders is the one big join; nation rollup keys are
    dimension-bound."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    part = _t(spark, sf_dir, "part").filter(F.col("p_name").contains("red"))
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        li.join(F.broadcast(part.select("p_partkey")),
                li["l_partkey"] == F.col("p_partkey"))
        .join(orders, li["l_orderkey"] == F.col("o_orderkey"))
        .join(F.broadcast(supp), li["l_suppkey"] == F.col("s_suppkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
        )
        .agg(
            _quantized_sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")), "profit"
            )
        )
        .orderBy("nation", F.desc("o_year"))
    )


def q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11-shaped (no partsupp: 'stock value' = shipped revenue via
    one nation's suppliers): parts whose value exceeds a fraction of the
    nation's total.  The HAVING-over-global-total correlator decorrelates
    to a 1-row broadcast cross join against the part-grain aggregate —
    the aggregate is part-bound (small), so the threshold filter is
    broadcast-side work, not a second corpus scan."""
    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_5")
    nat_supp = supp.join(
        F.broadcast(nation), supp["s_nationkey"] == nation["n_nationkey"]
    ).select("s_suppkey")
    vol = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000 + F.lit(0.5)
    ).cast("long")
    per_part = (
        li.join(F.broadcast(nat_supp), li["l_suppkey"] == F.col("s_suppkey"))
        .groupBy("l_partkey")
        .agg(F.sum(vol).alias("vq"))
    )
    total = per_part.agg(F.sum("vq").alias("tot"))
    return (
        per_part.crossJoin(F.broadcast(total))
        .filter(F.col("vq").cast("double") > F.col("tot").cast("double") * 0.001)
        .select(
            F.col("l_partkey").alias("p_partkey"),
            (F.col("vq") / 10000.0).alias("part_value"),
        )
        .orderBy(F.desc("part_value"), F.asc("p_partkey"))
    )


def q16_supplier_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16-shaped ('supplies' = shipped at least once; the
    complaints exclusion becomes negative account balance): distinct
    supplier counts per (brand, type, size) bucket over an excluded-brand
    part slice.  The distinct pair set is the one lineitem-grain shuffle;
    count(DISTINCT) then reduces the pair relation, and both dimension
    filters broadcast."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 4, 9, 16, 25, 36, 49)
    )
    ok_supp = _t(spark, sf_dir, "supplier").filter(
        F.col("s_acctbal") >= 0
    ).select("s_suppkey")
    return (
        li.join(
            F.broadcast(part.select("p_partkey", "p_brand", "p_type", "p_size")),
            li["l_partkey"] == F.col("p_partkey"),
        )
        .join(F.broadcast(ok_supp), li["l_suppkey"] == F.col("s_suppkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct(F.col("l_suppkey")).alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
    )


def q20_excess_shipments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20-shaped (no partsupp: 'excess stock' = a supplier whose
    1996 shipped quantity of one part-name family exceeds half the
    per-supplier average): candidate suppliers of one nation.  The
    scalar-average correlator decorrelates to a 1-row broadcast; the
    quantity rollup is supplier-grain (small) after the broadcast
    part-family semi-join."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1997-01-01"))
    )
    part = _t(spark, sf_dir, "part").filter(F.col("p_name").contains("blue"))
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_5")
    qty = F.floor(F.col("l_quantity") * 10000 + F.lit(0.5)).cast("long")
    per_supp = (
        li.join(F.broadcast(part.select("p_partkey")),
                li["l_partkey"] == F.col("p_partkey"))
        .groupBy("l_suppkey")
        .agg(F.sum(qty).alias("sq"))
    )
    avg_q = per_supp.agg(
        (F.sum("sq").cast("double") / F.count(F.lit(1))).alias("aq")
    )
    nat_supp = supp.join(
        F.broadcast(nation), supp["s_nationkey"] == nation["n_nationkey"]
    ).select("s_suppkey", "s_name")
    return (
        per_supp.crossJoin(F.broadcast(avg_q))
        .filter(F.col("sq").cast("double") > F.col("aq") * 0.5)
        .join(F.broadcast(nat_supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", (F.col("sq") / 10000.0).alias("ship_qty"))
        .orderBy("s_suppkey")
    )


def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6: forecast revenue change — one scan, three pushed-down
    range predicates, one quantized sum.  The whole query is a single
    WholeStageCodegen span over a pruned 4-column parquet scan (the
    shape where Spark's scan-level filter pushdown pays most directly)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1997-01-01"))
        & (F.col("l_discount") >= 0.03)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    ).agg(
        _quantized_sum(
            F.col("l_extendedprice") * F.col("l_discount"), "revenue"
        )
    )


def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7: shipping volume between two nations by year.  Lineitem
    joins the supplier-side nation and (through orders->customer) the
    customer-side nation — both dimension chains broadcast, so the only
    big-table shuffle is lineitem<->orders on the order key; the nation
    pair filter prunes before aggregation."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1998-01-01"))
    )
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    n1 = nation.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | (
        (F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1")
    )
    return (
        li.join(orders, li["l_orderkey"] == F.col("o_orderkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(supp), li["l_suppkey"] == F.col("s_suppkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("sn_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("cn_key"))
        .filter(pair)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").alias("l_year"),
        )
        .agg(
            _quantized_sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"
            )
        )
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


def q12_shipping_delay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12-shaped (trimmed schema has no shipmode/commit/receipt
    dates: the bucket is the SHIPPING DELAY l_shipdate - o_orderdate,
    'late' >= 60 days): high/low order-priority counts per delay bucket.
    One lineitem<->orders key join, conditional aggregation — the CASE
    sums fold into one pass, no second scan per priority class."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    j = li.join(orders, li["l_orderkey"] == F.col("o_orderkey"))
    bucket = F.when(
        F.col("l_shipdate") >= F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"),
        F.lit("late"),
    ).otherwise(F.lit("ontime"))
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        j.groupBy(bucket.alias("delay_bucket"))
        .agg(
            F.sum(high.cast("long")).alias("high_line_count"),
            F.sum((~high).cast("long")).alias("low_line_count"),
        )
        .orderBy("delay_bucket")
    )


def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15: the top revenue supplier(s) of one quarter.  The view +
    scalar-max correlated shape decorrelates to: one lineitem aggregation
    to supplier grain, a 1-row max, and a broadcast cross-join filter —
    the per-supplier revenue relation is supplier-bound (small), so both
    the max and the final equality check are broadcast-side work."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1996-04-01"))
    )
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    rev = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        _quantized_sum(
            F.col("l_extendedprice") * (1 - F.col("l_discount")), "total_revenue"
        )
    )
    mx = rev.agg(F.max("total_revenue").alias("mx"))
    return (
        rev.crossJoin(F.broadcast(mx))
        .filter(F.col("total_revenue") == F.col("mx"))
        .join(F.broadcast(supp), F.col("supplier_no") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17-shaped (no p_container on the trimmed schema; the brand
    filter carries the selectivity): average yearly revenue lost if
    small-quantity orders of one brand's parts were not taken.  The
    correlated per-part AVG subquery decorrelates to a groupBy at part
    grain joined back to the same filtered lineitem relation — both
    sides pre-filtered by the broadcast part-brand semi-join, so the
    self-aggregate runs on the small slice, not the full lineitem."""
    part = _t(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#2")
    li = _t(spark, sf_dir, "lineitem").join(
        F.broadcast(part.select("p_partkey")),
        F.col("l_partkey") == F.col("p_partkey"),
    )
    # exact threshold: quantized per-part mean (floor-1e4 on the sum, one
    # divide) so the 0.2*avg compare is bit-identical across engines
    thr = li.groupBy(F.col("l_partkey").alias("t_partkey")).agg(
        (
            F.sum(F.floor(F.col("l_quantity") * 10000 + F.lit(0.5)).cast("long"))
            / F.count(F.lit(1))
            / 10000.0
            * 0.2
        ).alias("qty_thr")
    )
    return (
        li.join(F.broadcast(thr), F.col("l_partkey") == F.col("t_partkey"))
        .filter(F.col("l_quantity") < F.col("qty_thr"))
        .agg(
            (
                F.sum(
                    F.floor(F.col("l_extendedprice") * 10000 + F.lit(0.5)).cast(
                        "long"
                    )
                )
                / 10000.0
                / 7.0
            ).alias("avg_yearly")
        )
    )


def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19-shaped (no shipmode/shipinstruct on the trimmed schema):
    revenue from three disjoint (brand, size-range, quantity-range)
    bands.  The OR-of-ANDs predicate references both sides of the
    part<->lineitem join, so it evaluates as a join residual ON a
    broadcast hash join — the part side is dimension-sized, and no
    band materializes its own scan."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    j = li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
    band = (
        (
            (F.col("p_brand") == "Brand#1")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#2")
            & F.col("p_size").between(1, 25)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(1, 35)
            & F.col("l_quantity").between(20, 30)
        )
    )
    return j.filter(band).agg(
        _quantized_sum(
            F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"
        )
    )


def tokenizer_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE tokenizer training: the first 6 merges learned over
    the word-frequency table (see operators/tokenizer.py — per iteration
    one vocab scan, one small pair-count shuffle, a 1-row model collect;
    the corpus is tokenized exactly once)."""
    docs = _t(spark, sf_dir, "documents")
    return T.bpe_merges(docs, n_merges=6)


def tokenizer_bpe_train_local(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION trainer shape for realistic vocabularies: one
    distributed tokenize + word-count aggregation, then an incremental
    driver-side merge loop over the vocab-bound table (n_merges up to
    ~32k without one-Spark-job-per-merge).  Gated against the SAME
    unrolled DuckDB oracle as the distributed loop — a green row proves
    driver-loop == distributed-loop == oracle at the gate's N=6."""
    docs = _t(spark, sf_dir, "documents")
    return T.bpe_train_local(docs, n_merges=6)


def tokenizer_bpe_segment_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train (driver-side loop) + segment with the merges shipped as a
    broadcast model replayed over the DISTINCT word table by an
    Arrow-batched pandas UDF (see tokenizer.bpe_segment_model) — the
    scale path that replaces the 2N-deep F.replace expression chain."""
    docs = _t(spark, sf_dir, "documents")
    merges = T.bpe_train_local(docs, n_merges=6).collect()
    return T.bpe_segment_model(
        docs, [(m["s1"], m["s2"]) for m in merges]
    ).orderBy("doc_id")


def sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Efraimidis-Spirakis weighted sampling without replacement (weight =
    document length): one TakeOrderedAndProject pass, no corpus shuffle
    (see sampling.weighted_sample)."""
    docs = _t(spark, sf_dir, "documents")
    return SA.weighted_sample(docs, "n_chars", k=100)


def corpus_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC merge of an incoming batch into the corpus snapshot (see
    corpus.merge_upsert): the batch is a deterministic simulation —
    every doc_id % 7 == 0 arrives updated (suffixed text), every
    doc_id % 13 == 0 arrives as a brand-new id (+10M offset)."""
    docs = _t(spark, sf_dir, "documents")
    updated = docs.filter(F.col("doc_id") % 7 == 0).select(
        "doc_id", F.concat(F.col("text"), F.lit(" v2")).alias("text")
    )
    inserted = docs.filter(F.col("doc_id") % 13 == 0).select(
        (F.col("doc_id") + 10_000_000).alias("doc_id"), "text"
    )
    batch = updated.unionByName(inserted)
    return C.merge_upsert(docs, batch).orderBy("doc_id")


def tokenizer_bpe_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE train + apply composed: learn 6 merges on the word-frequency
    table, then segment every document with them (zero-shuffle narrow
    replay) and report the per-document piece counts a token-budget
    pipeline consumes."""
    docs = _t(spark, sf_dir, "documents")
    merges = T.bpe_merges(docs, n_merges=6).collect()
    return T.bpe_segment(docs, [(m["s1"], m["s2"]) for m in merges]).orderBy(
        "doc_id"
    )


def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted PageRank over the supplier co-occurrence graph (suppliers
    sharing an order), 3 exact-integer iterations — see operators/graph.py
    for the distributed shape and the cross-engine integer protocol."""
    li = _t(spark, sf_dir, "lineitem")
    supplier = _t(spark, sf_dir, "supplier")
    edges = G.cooccurrence_edges(li, "l_orderkey", "l_suppkey")
    vertices = supplier.select(F.col("s_suppkey").alias("v"))
    return G.pagerank(edges, vertices, iters=3)


def fuzzy_pairs_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distance-1 fuzzy name matching over supplier names via SymSpell
    deletion-neighborhood blocking (equi-join on deletion keys + exact
    levenshtein verify); the oracle is the naive quadratic self-join —
    same result, different asymptotics (see operators/fuzzy.py)."""
    supplier = _t(spark, sf_dir, "supplier")
    return FZ.fuzzy_pairs(supplier, "s_suppkey", "s_name", max_dist=1)


def emb_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-2 principal-component projection of the embedding corpus:
    distributed mean+Gram aggregation, 64x64 driver eigh, zero-shuffle
    literal-loading projection (see similarity.pca_project).  Rows-only
    gate: the eigendecomposition is not SQL-expressible; semantics are
    pinned by tests/test_operators.py against numpy SVD."""
    emb = _t(spark, sf_dir, "embeddings")
    return S.pca_project(emb, k=2).orderBy("vec_id")


def corpus_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR data selection (Xie et al. 2023): top-100 documents by
    hashed-unigram importance log-ratio toward the English subset as the
    target distribution — bucket models broadcast onto the token stream,
    weights carried as exact-integer quantized logs
    (sampling.dsir_select; oracle is the same math as CTEs)."""
    docs = _t(spark, sf_dir, "documents")
    target = docs.filter(F.col("lang") == "en")
    return SA.dsir_select(docs, target, top_n=100, n_buckets=512)


def quality_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population-stability-index drift report between two corpus
    snapshots (even vs odd doc ids) over document-length buckets
    (n_chars//100 capped at 7): per-bucket smoothed shares and PSI
    contributions, everything quantized per the cross-engine float
    protocol (operators/monitor.py)."""
    docs = _t(spark, sf_dir, "documents")
    bucket = F.least(F.floor(F.col("n_chars") / 100), F.lit(7))
    return MO.psi_drift(
        docs.filter(F.col("doc_id") % 2 == 0),
        docs.filter(F.col("doc_id") % 2 == 1),
        bucket,
        n_buckets=8,
    )


def sketch_kmv_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (k-minimum-values) set-overlap sketch between the even- and
    odd-doc token populations: distinct-count estimates from the k-th
    minimum hash, Jaccard from the union sketch, intersection by
    inclusion-exclusion — the corpus-overlap question answered in
    sketch space instead of a corpus-sized intersection join
    (sketches.kmv_overlap; the oracle replays the identical sketch)."""
    from adtl_spark.operators.corpus import _exploded_tokens

    docs = _t(spark, sf_dir, "documents")
    a = _exploded_tokens(
        docs.filter(F.col("doc_id") % 2 == 0), "text", "doc_id"
    ).select("token")
    b = _exploded_tokens(
        docs.filter(F.col("doc_id") % 2 == 1), "text", "doc_id"
    ).select("token")
    return SK.kmv_overlap(a, b, "token", k=128)


def sketch_quantile_bottomk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document-length quantiles from a mergeable bottom-k
    sketch (k=256 smallest doc-id hashes per source): the fixed-state
    answer to percentile monitoring at 100 TB — per-group state is k
    rows however large the corpus, shards sketch independently and merge
    by union + re-take-k, and the type-1 quantile indices are exact
    integer arithmetic the oracle replays (sketches.quantile_bottomk)."""
    docs = _t(spark, sf_dir, "documents")
    return SK.quantile_bottomk(
        docs, "n_chars", "doc_id", "source", k=256, group_name="source"
    )


def sketch_hll_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-token estimates per source PLUS the corpus-wide estimate
    obtained by MERGING the per-source HLL register tables (register-wise
    max — the sketch-space ROLLUP), never rescanning the corpus: the
    merge law that makes sketch state reusable across grouping levels at
    scale (sketches.hll_rollup; oracle replays registers + both levels)."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        F.col("source"), F.explode(X.tokens(F.col("text"))).alias("token")
    )
    return SK.hll_rollup(toks, "token", "source", "source")


def profile_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row key-skew diagnostic for lineitem.l_partkey — the numbers
    read before choosing salting/bucketing for a join key: exact
    row/key totals, hottest-key and top-10 shares, Shannon entropy and
    Gini of the key-frequency distribution, all derived from the
    count-of-counts cells so the corpus never sorts
    (operators/profile.skew_report; the oracle replays the closed-form
    rank runs and quantized entropy terms)."""
    from adtl_spark.operators.profile import skew_report

    return skew_report(_t(spark, sf_dir, "lineitem"), "l_partkey", top_k=10)


def quality_pr_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision/recall calibration curve for the NB quality classifier
    over 32 fixed score bins — the threshold-picking table for a corpus
    filter.  The weak label rides the scoring aggregate (score_nb's
    carry column), so no doc-grain join-back; bin edges come from a
    broadcast min/max stats row and the cumulative windows run over the
    32-row cell table (corpus.pr_curve; the oracle recomputes the same
    integer bins from the replayed NB scores)."""
    docs = _t(spark, sf_dir, "documents")
    pos = F.col("source").isin(*C.NB_CURATED_SOURCES)
    model, prior = C.train_nb(docs, pos, vocab_k=50)
    scored = C.score_nb(docs, model, prior, carry=pos)
    return C.pr_curve(scored, "label", "nb_score", n_bins=32)


def quality_roc_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact tie-aware ROC AUC (Mann-Whitney U) of the NB quality score
    against the curated weak label — one row, computed over distinct
    quantized-score cells with the banded two-phase prefix sum (no
    corpus sort, no unbounded window; corpus.roc_auc).  The oracle
    recomputes the identical integer U2 from the replayed scores."""
    docs = _t(spark, sf_dir, "documents")
    pos = F.col("source").isin(*C.NB_CURATED_SOURCES)
    model, prior = C.train_nb(docs, pos, vocab_k=50)
    scored = C.score_nb(docs, model, prior, carry=pos)
    return C.roc_auc(scored, "label", "nb_score")


def quality_vocab_js(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical drift between the even- and odd-doc snapshots: per-token
    Jensen-Shannon divergence contributions over the union top-64
    vocabulary plus an exact OOV remainder cell — "did the language
    change", the token-distribution companion to the PSI/KS numeric
    monitors (monitor.vocab_js_drift; oracle replays tokenizer, top-K
    tie-break, smoothing and quantization)."""
    docs = _t(spark, sf_dir, "documents")
    return MO.vocab_js_drift(
        docs.filter(F.col("doc_id") % 2 == 0),
        docs.filter(F.col("doc_id") % 2 == 1),
        vocab_k=64,
    )


def layout_range_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range-partition boundary planning for documents.n_chars: 7 upper
    bounds at sample octiles of the deterministic bottom-k key-hash
    sample — what RangePartitioner derives by sampling before a
    distributed sort, made reproducible across runs and engines
    (sketches.range_bounds; the oracle replays sample and indices)."""
    docs = _t(spark, sf_dir, "documents")
    return SK.range_bounds(docs, "n_chars", "doc_id", n_ranges=8, k=256)


def layout_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-shard integrity manifest: per-shard row counts, total
    chars, and an order-independent xor content checksum under the SAME
    salted-hash shard assignment write_training_shards uses — verifies an
    export (or plans one) in a single map-side-combinable aggregate,
    invariant to partitioning and row order (io.shard_manifest)."""
    from adtl_spark.sources.io import shard_manifest

    docs = _t(spark, sf_dir, "documents")
    return shard_manifest(docs, 16, key_col="doc_id", size_col="n_chars")


def multimodal_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signal-level DSP through the native WAV decode path, value-checked
    end to end: arithmetic-sample PCM payloads (multimodal.
    synthetic_wav_arith) are decoded back and reduced to exact integer
    statistics — peak, total amplitude, zero crossings, quantized RMS —
    so the oracle replays the whole decode+DSP pipeline per sample via
    generate_series, not just the header walk (which
    multimodal_audio_meta already pins)."""
    from adtl_spark.operators import multimodal as M

    docs = _t(spark, sf_dir, "documents").select("doc_id")

    def build(batches):
        import pandas as pd

        for pdf in batches:
            ids = pdf["doc_id"]
            yield pd.DataFrame(
                {
                    "media_id": ids,
                    "payload": [
                        M.synthetic_wav_arith(160 * (1 + int(i) % 30), seed=int(i))
                        for i in ids
                    ],
                }
            )

    media = docs.mapInPandas(build, schema="media_id long, payload binary")
    return M.audio_signal_features(media)


def multimodal_image_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full image transform chain — encode, decode, nearest-neighbor
    downsample by 2, re-encode, decode again, pixel statistics — with an
    arithmetic pixel pattern (multimodal.synthetic_ppm_arith) so the
    position-weighted checksum of the RESIZED image is exact arithmetic
    the oracle replays per output pixel; any stride/layout bug anywhere
    in the chain breaks the match."""
    from adtl_spark.operators import multimodal as M

    docs = _t(spark, sf_dir, "documents").select("doc_id")

    def build(batches):
        import pandas as pd

        for pdf in batches:
            ids = pdf["doc_id"]
            yield pd.DataFrame(
                {
                    "media_id": ids,
                    "payload": [
                        M.synthetic_ppm_arith(
                            8 + int(i) % 16, 8 + (int(i) * 3) % 16, seed=int(i)
                        )
                        for i in ids
                    ],
                }
            )

    media = docs.mapInPandas(build, schema="media_id long, payload binary")
    return M.image_pixel_stats(M.resize_image_nn(media, factor=2))


def multimodal_image_resize_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The antialiased twin of multimodal_image_resize: the same
    encode -> decode -> downsample-by-2 -> re-encode -> decode -> pixel
    stats chain, but through the BOX FILTER (integer area average —
    each output pixel is the floor of its 2x2 block sum over 4).  The
    mean is exact integer arithmetic, so the oracle replays every
    output pixel as the block sum of four arithmetic source bytes //
    4; a bug in blocking, truncation, stride or channel order breaks
    the position-weighted checksum (multimodal.resize_image_box)."""
    from adtl_spark.operators import multimodal as M

    docs = _t(spark, sf_dir, "documents").select("doc_id")

    def build(batches):
        import pandas as pd

        for pdf in batches:
            ids = pdf["doc_id"]
            yield pd.DataFrame(
                {
                    "media_id": ids,
                    "payload": [
                        M.synthetic_ppm_arith(
                            8 + int(i) % 16, 8 + (int(i) * 3) % 16, seed=int(i)
                        )
                        for i in ids
                    ],
                }
            )

    media = docs.mapInPandas(build, schema="media_id long, payload binary")
    return M.image_pixel_stats(M.resize_image_box(media, factor=2))


def sample_split_leakage_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/test splitting value-checked end to end:
    exact-duplicate pairs (text-equality self-join, id_a < id_b) feed
    the REAL connected-components loop (dedup.cluster_pairs), every
    document inherits its cluster's canonical id as the split key
    (singletons: their own id), and the append-stable keyed hash
    assigns train/test — so a training document's duplicate can never
    land in the eval set.  Exact duplicates form cliques, so the CC
    fixpoint is provably min(doc_id) per text group and the oracle
    replays the whole pipeline as a window min + the split-hash CASE
    (sampling.split_leakage_safe; the straddle-free property is
    additionally pinned by pytest on a MinHash pair relation)."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    a = docs.select(F.col("doc_id").alias("id_a"), F.col("text").alias("ta"))
    b = docs.select(F.col("doc_id").alias("id_b"), F.col("text").alias("tb"))
    pairs = a.join(
        b, (F.col("ta") == F.col("tb")) & (F.col("id_a") < F.col("id_b"))
    ).select("id_a", "id_b")
    out = SA.split_leakage_safe(
        docs, pairs, {"train": 0.8, "test": 0.2}
    )
    return out.select("doc_id", "split_key", "split").orderBy("doc_id")


def multimodal_audio_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rate normalization value-checked end to end: arithmetic-sample
    PCM decodes, box-decimates by 2 (output sample k = floor of the
    mean of inputs 2k, 2k+1 — multimodal.resample_audio_box), re-wraps
    as WAV at half the rate, and reduces through the SAME
    audio_signal_features DSP as the native-rate gate.  The oracle
    replays every RESAMPLED sample from the generator arithmetic
    (floor((s(2k) + s(2k+1)) / 2)) and then the full stats pipeline —
    peak, total amplitude, zero crossings, quantized RMS — so aliasing
    the decimation, the tail truncation, or the rewrap breaks the
    hash."""
    from adtl_spark.operators import multimodal as M

    docs = _t(spark, sf_dir, "documents").select("doc_id")

    def build(batches):
        import pandas as pd

        for pdf in batches:
            ids = pdf["doc_id"]
            yield pd.DataFrame(
                {
                    "media_id": ids,
                    "payload": [
                        M.synthetic_wav_arith(
                            160 * (1 + int(i) % 30), seed=int(i)
                        )
                        for i in ids
                    ],
                }
            )

    media = docs.mapInPandas(build, schema="media_id long, payload binary")
    return M.audio_signal_features(M.resample_audio_box(media, factor=2))


def multimodal_png_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PNG twin of multimodal_image_resize, through the stdlib-zlib
    PNG decode path: arithmetic RGBA payloads written with MIXED per-row
    filters (every one of the five unfilter paths executes on any image
    >= 5 rows) -> chunk walk + CRC verify + inflate + unfilter + alpha
    strip -> NN downsample by 2 -> P6 re-encode -> decode again -> pixel
    stats.  The oracle replays output pixel p channel c as source RGBA
    byte ((p//ow)*2*w + (p%ow)*2)*4 + c of the arithmetic pattern, so a
    bug anywhere in the chain — filtering, stride, channel order, alpha
    handling — breaks the position-weighted checksum."""
    from adtl_spark.operators import multimodal as M

    docs = _t(spark, sf_dir, "documents").select("doc_id")

    def build(batches):
        import pandas as pd

        for pdf in batches:
            ids = pdf["doc_id"]
            yield pd.DataFrame(
                {
                    "media_id": ids,
                    "payload": [
                        M.synthetic_png_arith(
                            8 + (int(i) * 5) % 16,
                            8 + (int(i) * 7) % 16,
                            seed=int(i),
                        )
                        for i in ids
                    ],
                }
            )

    media = docs.mapInPandas(build, schema="media_id long, payload binary")
    return M.image_pixel_stats(M.resize_image_nn(media, factor=2))


# The constructed-page template for the WET gate: single-line (a WARC
# payload must not contain a blank line — the Column parser's documented
# boundary), with every extraction pass represented: head/style/script
# blocks, a comment, block-level tags, <br/>, &nbsp;, quote entities, and
# the &amp;lt; double-escape case the entity ordering fix exists for.
_WET_HEAD = (
    '<html><head><title>corpus</title><style>p{color:#333}</style></head>'
    '<body><!-- boilerplate --><script type="text/javascript">var ok = 1 < 2'
    ' && "x";</script><h1>Doc '
)
_WET_TAIL = (
    '</p><div>fine&nbsp;print &amp;lt; escaped &quot;q&quot; &amp; done'
    "</div><br/></body></html>"
)


def wet_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WET-making pipeline value-checked end to end: per document,
    build an HTML page (entity-escaping the text), wrap it as a WARC
    response record with a correct Content-Length, concatenate 8 records
    per archive file, then run the ingestion path — parse_warc_records
    boundary split + Content-Length cut, html_to_text extraction — and
    emit (doc_id, text, n_chars).  The oracle builds the same HTML
    directly from ``documents`` and applies the identical regexp_replace
    chain (text.html_extract_expr_sql), so the WARC wrap/parse must be
    an exact identity and the extraction must match pass for pass."""
    from adtl_spark.sources.io import parse_warc_records

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    esc = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("text"), "&", "&amp;"), "<", "&lt;"
        ),
        ">",
        "&gt;",
    )
    html = F.concat(
        F.lit(_WET_HEAD),
        F.col("doc_id").cast("string"),
        F.lit("</h1><p>"),
        esc,
        F.lit(_WET_TAIL),
    )
    rec = F.concat(
        F.lit(
            "WARC/1.0\r\nWARC-Type: response\r\n"
            "WARC-Target-URI: http://corpus.test/doc/"
        ),
        F.col("doc_id").cast("string"),
        F.lit("\r\nContent-Length: "),
        F.length(html).cast("string"),
        F.lit("\r\n\r\n"),
        html,
        F.lit("\r\n\r\n"),
    )
    # one archive per 64 consecutive docs: the file COUNT scales with the
    # corpus while each group's collect_list stays 64-record-bounded (a
    # fixed modulus would concentrate the whole corpus into a constant
    # number of ever-growing groups — the 10x stress showed 8 archives of
    # 62.5k records each)
    files = (
        docs.select(
            F.floor(F.col("doc_id") / 64).alias("__f"),
            F.struct(F.col("doc_id").alias("k"), rec.alias("rec")).alias("__s"),
        )
        .groupBy("__f")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list("__s")), lambda x: x["rec"]
                ),
                "",
            ).alias("value")
        )
    )
    recs = parse_warc_records(files)
    out = recs.filter(F.col("warc_type") == "response").select(
        F.regexp_extract(F.col("target_uri"), r"(\d+)$", 1)
        .cast("long")
        .alias("doc_id"),
        X.html_to_text(F.col("content")).alias("text"),
    )
    return _ckpt_order(out.select(
        "doc_id", "text", F.length("text").cast("long").alias("n_chars")
    ), "doc_id")


def pref_bradley_terry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bradley-Terry preference fitting over a pairwise comparison log:
    events become matches between 20 items (ids from event_id
    arithmetic; the higher-indexed item wins 3 of 4 matches, so fitted
    strengths must recover the index order), and two exact MM rounds
    run as edge-list-vs-score-vector joins.  The oracle replays BOTH MM
    iterations in SQL CTE algebra — per-pair win counts, symmetric
    games, denominator sums, per-round normalization — so every join
    and aggregate in the distributed iteration is value-checked at 6
    decimals (operators/feedback.py:bradley_terry, Hunter 2004)."""
    from adtl_spark.operators.feedback import bradley_terry

    ev = _t(spark, sf_dir, "events").select("event_id")
    a = (F.col("event_id") % 20).alias("a")
    b = ((F.col("event_id") / 20).cast("long") % 20).alias("b")
    pairs = (
        ev.select("event_id", a, b)
        .filter(F.col("a") != F.col("b"))
        .select(
            F.when(
                F.col("event_id") % 4 != 0,
                F.greatest("a", "b"),
            )
            .otherwise(F.least("a", "b"))
            .alias("winner"),
            F.when(
                F.col("event_id") % 4 != 0,
                F.least("a", "b"),
            )
            .otherwise(F.greatest("a", "b"))
            .alias("loser"),
        )
    )
    from adtl_spark.operators.monitor import _q6

    out = bradley_terry(pairs, iters=2)
    return out.select(
        "item",
        _q6(F.col("strength")).alias("strength_q6"),
        F.col("wins").cast("long").alias("wins"),
        F.col("games").cast("long").alias("games"),
    ).orderBy("item")


def text_script_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode-script histogram value-checked count for count: per
    document a mixed-script text is constructed from id arithmetic —
    Latin runs (absent every 7th doc, so 'none' occurs), Cyrillic every
    other doc, Han every 5th, Greek every 4th (sized to TIE with Latin,
    pinning the fixed-order tie-break), plus non-script digits/spaces —
    and script_profile counts each class with one native
    regexp_replace+length per script.  The oracle rebuilds every count
    and the dominant-script CASE chain from the same arithmetic, so the
    Java-regex script classes must match RE2's exactly
    (operators/text.py: script_profile)."""
    from adtl_spark.operators.text import script_profile

    d = F.col("doc_id")
    lat = F.when(d % 7 == 0, F.lit("")).otherwise(
        F.repeat(F.lit("ab"), (1 + d % 3).cast("int"))
    )
    cyr = F.repeat(F.lit("де"), (d % 2).cast("int"))
    han = F.when(d % 5 == 0, F.lit("漢字漢")).otherwise(F.lit(""))
    grk = F.when(d % 4 == 1, F.lit("ωμγα")).otherwise(F.lit(""))
    text = F.concat(lat, F.lit(" 12"), cyr, han, grk, F.lit("; "))
    docs = _t(spark, sf_dir, "documents").select("doc_id", text.alias("text"))
    return script_profile(docs).orderBy("doc_id")


def text_nfc_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode NFC normalization value-checked byte-exact: per document
    a DECOMPOSED string is constructed (``e`` + combining acute U+0301,
    repeated per id arithmetic, plus an ASCII tail), normalized through
    the Arrow unicodedata path, and compared against DuckDB's
    ``nfc_normalize`` on the identically-constructed string — composed
    output, and the codepoint counts before/after, must all match (the
    count drops by exactly the number of combining marks composed)
    (operators/text.py: normalize_unicode)."""
    from adtl_spark.operators.text import normalize_unicode

    d = F.col("doc_id")
    text = F.concat(
        F.repeat(F.lit("e\u0301"), (1 + d % 4).cast("int")),
        F.lit("x"),
        d.cast("string"),
    )
    docs = _t(spark, sf_dir, "documents").select("doc_id", text.alias("text"))
    return _ckpt_order(normalize_unicode(docs), "doc_id")


def corpus_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n-gram novelty scoring value-checked end to end: every third
    document forms the reference corpus, so reference members must come
    back with novelty exactly 0 (every shingle of theirs is in the
    reference by construction) and the rest score genuine partial
    novelty.  Shingling, the distinct reference set, the left join and
    the integer ppm all replay through the dedup family's shared
    n-gram CTE builder (operators/corpus.py:ngram_novelty)."""
    from adtl_spark.operators.corpus import ngram_novelty

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    ref = docs.filter(F.col("doc_id") % 3 == 0)
    return ngram_novelty(docs, ref, n=3).orderBy("doc_id")


def multimodal_audio_clipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clipping screen value-checked sample for sample: per document a
    real WAV whose samples are the closed-form mix arithmetic (the VAD
    gate's loud fixture, ungated — the full int16 range, so near-rail
    samples occur at a deterministic rate) runs through decode ->
    |s| >= 32700 counting.  The oracle replays every sample from the
    closed form with generate_series, so the decode and the integer
    clip verdict must both be exact (multimodal.audio_clipping)."""
    from adtl_spark.operators import multimodal as M

    docs = _t(spark, sf_dir, "documents").select("doc_id")

    def build(batches):
        import pandas as pd

        for pdf in batches:
            rows = []
            for d in pdf["doc_id"]:
                d = int(d)
                n = 320 * (2 + d % 9) + (d % 7)
                rows.append((d, M.synthetic_wav_arith(n, seed=d)))
            yield pd.DataFrame(rows, columns=["media_id", "payload"])

    media = docs.mapInPandas(build, schema="media_id long, payload binary")
    return _ckpt_order(M.audio_clipping(media), "media_id")


def multimodal_image_sharpness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blur screen value-checked pixel for pixel: per document an
    arithmetic P6 image (byte j = (seed*31 + j*131) % 256) runs through
    decode -> integer L1 Laplacian over interior pixels.  The oracle
    recomputes every interior pixel's five grayscale taps from the
    closed form with generate_series and sums the same |4g - up - down
    - left - right| — decode, grayscale weights and stencil arithmetic
    all exact (multimodal.image_sharpness)."""
    from adtl_spark.operators import multimodal as M

    docs = _t(spark, sf_dir, "documents").select("doc_id")

    def build(batches):
        import pandas as pd

        for pdf in batches:
            rows = []
            for d in pdf["doc_id"]:
                d = int(d)
                w, h = 6 + d % 6, 5 + (d * 3) % 5
                rows.append((d, M.synthetic_ppm_arith(w, h, seed=d * 7 + 3)))
            yield pd.DataFrame(rows, columns=["media_id", "payload"])

    media = docs.mapInPandas(build, schema="media_id long, payload binary")
    return _ckpt_order(M.image_sharpness(media), "media_id")


def pref_winrate_wilson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilson-lower-bound win rates over the same pairwise comparison
    log as the Bradley-Terry gate (20 items, higher index wins 3 of 4):
    per item the game/win counts, the raw rate and the 95% Wilson score
    lower bound — the ranking statistic that cannot promote a
    small-sample item.  The oracle replays the count aggregation and
    the interval expression in the identical shape (sqrt and divide are
    correctly rounded IEEE doubles, so 6-decimal quantization is exact)
    (operators/feedback.py:winrate_wilson, Wilson 1927)."""
    from adtl_spark.operators.feedback import winrate_wilson
    from adtl_spark.operators.monitor import _q6

    ev = _t(spark, sf_dir, "events").select("event_id")
    a = (F.col("event_id") % 20).alias("a")
    b = ((F.col("event_id") / 20).cast("long") % 20).alias("b")
    pairs = (
        ev.select("event_id", a, b)
        .filter(F.col("a") != F.col("b"))
        .select(
            F.when(F.col("event_id") % 4 != 0, F.greatest("a", "b"))
            .otherwise(F.least("a", "b"))
            .alias("winner"),
            F.when(F.col("event_id") % 4 != 0, F.least("a", "b"))
            .otherwise(F.greatest("a", "b"))
            .alias("loser"),
        )
    )
    out = winrate_wilson(pairs)
    return out.select(
        "item",
        "games",
        "wins",
        _q6(F.col("winrate")).alias("winrate_q6"),
        _q6(F.col("wilson_lo")).alias("wilson_lo_q6"),
    ).orderBy("item")


def pref_rater_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-annotator agreement: each event contributes one label
    ((item, rater) unique by id arithmetic: item = event_id // 5, rater
    = event_id % 5, label = floor(value*10) % 4) and Cohen's kappa is
    computed for every rater pair from one item self-join — observed
    agreement vs the chance agreement of the pair's label marginals ON
    their co-labeled items.  The oracle replays the contingency algebra
    (agreement counts, per-rater marginals, pe = sum of marginal
    products) at 6 decimals (operators/feedback.py:pairwise_kappa)."""
    from adtl_spark.operators.feedback import pairwise_kappa

    ev = _t(spark, sf_dir, "events").select("event_id", "value")
    labels = ev.select(
        (F.col("event_id") / 5).cast("long").alias("item"),
        (F.col("event_id") % 5).alias("rater"),
        (F.floor(F.col("value") * 10).cast("long") % 4).alias("label"),
    )
    from adtl_spark.operators.monitor import _q6

    out = pairwise_kappa(labels)
    return out.select(
        "rater_a",
        "rater_b",
        F.col("n_items").cast("long").alias("n_items"),
        _q6(F.col("po")).alias("po_q6"),
        _q6(F.col("pe")).alias("pe_q6"),
        _q6(F.col("kappa")).alias("kappa_q6"),
    ).orderBy("rater_a", "rater_b")


def pref_fleiss_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fleiss' kappa over the same synthetic 5-rater panel: per-item
    agreement P_i from squared label counts, chance agreement from the
    global label distribution, off-panel items excluded and counted.
    One row out; the oracle replays the whole computation
    (operators/feedback.py:fleiss_kappa)."""
    from adtl_spark.operators.feedback import fleiss_kappa

    ev = _t(spark, sf_dir, "events").select("event_id", "value")
    labels = ev.select(
        (F.col("event_id") / 5).cast("long").alias("item"),
        (F.col("event_id") % 5).alias("rater"),
        (F.floor(F.col("value") * 10).cast("long") % 4).alias("label"),
    )
    from adtl_spark.operators.monitor import _q6

    out = fleiss_kappa(labels, n_raters=5)
    return out.select(
        F.col("n_items").cast("long").alias("n_items"),
        F.col("n_raters").cast("int").alias("n_raters"),
        _q6(F.col("p_bar")).alias("p_bar_q6"),
        _q6(F.col("p_e")).alias("p_e_q6"),
        _q6(F.col("kappa")).alias("kappa_q6"),
        "n_excluded",
    )


def doc_pdf_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PDF ingestion value-checked end to end: per document a real PDF
    is written (1-3 pages from id arithmetic, one 40-char text slice
    per page, Flate-compressed content streams, correct page tree and
    xref) and the extraction path runs — object scan, Flate inflate,
    catalog→Kids page-order walk, content-stream string lexing with
    escape handling — emitting the page count and the reassembled text.
    The oracle rebuilds the page slices from ``documents`` with substr
    arithmetic, so the write→extract chain must be an exact identity
    including paren/backslash escaping (operators/pdf_lite.py)."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")

    def run(batches):
        import pandas as pd

        from adtl_spark.operators.pdf_lite import build_pdf, pdf_pages

        for pdf in batches:
            rows = []
            for d, t in zip(pdf["doc_id"], pdf["text"]):
                d = int(d)
                t = t or ""
                np_ = 1 + d % 3
                pages = [[t[40 * p : 40 * p + 40]] for p in range(np_)]
                got = pdf_pages(build_pdf(pages))
                text = "\n".join(got)
                rows.append((d, len(got), text, len(text)))
            yield pd.DataFrame(
                rows, columns=["doc_id", "n_pages", "text", "n_chars"]
            )

    return _ckpt_order(docs.mapInPandas(
        run,
        schema="doc_id long, n_pages long, text string, n_chars long",
    ), "doc_id")


def doc_pdf_extract_modern(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MODERN-layout PDF ingestion (PDF 1.5+ — the default every
    current producer emits) value-checked end to end: per document a
    real xref-STREAM file is written — catalog/page-tree/page dicts
    packed in a compressed object stream, W-array xref entries
    (type-2 members + type-1 stream offsets), PNG Predictor-12 row
    filtering on even ids and unfiltered rows on odd — and the
    extraction path runs the full modern chain: direct object scan,
    xref-stream W decoding + predictor unfiltering, ObjStm member
    inflation, page-tree walk, content lexing; every third document
    (``objstm_len``) additionally writes its content streams'
    ``/Length`` as indirect references to integers living INSIDE the
    object stream — the real-generator layout that requires the
    reader's third resolution pass.  The oracle rebuilds
    the page slices from ``documents`` with substr arithmetic, so the
    modern write→extract chain must be an exact identity
    (operators/pdf_lite.py: build_pdf_modern, _decode_xref_stream,
    _parse_objstm, _resolve_pending_lengths)."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")

    def run(batches):
        import pandas as pd

        from adtl_spark.operators.pdf_lite import build_pdf_modern, pdf_pages

        for pdf in batches:
            rows = []
            for d, t in zip(pdf["doc_id"], pdf["text"]):
                d = int(d)
                t = t or ""
                np_ = 1 + d % 3
                pages = [[t[40 * p : 40 * p + 40]] for p in range(np_)]
                payload = build_pdf_modern(
                    pages,
                    predictor=(d % 2 == 0),
                    objstm_lengths=(d % 3 == 0),
                )
                got = pdf_pages(payload)
                text = "\n".join(got)
                rows.append(
                    (d, len(got), text, len(text), d % 2 == 0, d % 3 == 0)
                )
            yield pd.DataFrame(
                rows,
                columns=["doc_id", "n_pages", "text", "n_chars",
                         "predictor", "objstm_len"],
            )

    return _ckpt_order(docs.mapInPandas(
        run,
        schema=(
            "doc_id long, n_pages long, text string, n_chars long, "
            "predictor boolean, objstm_len boolean"
        ),
    ), "doc_id")


def web_warc_gz_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CommonCrawl ``.warc.gz`` wire format exercised end to end:
    per document a WARC response record (correct Content-Length) is
    compressed as its OWN gzip member (the record-per-member layout CC
    ships and its CDX index range-requests into), 64 members are
    concatenated per archive blob, and ingestion runs the real path —
    ``gzip_member_records`` boundary-exact member split (zlib
    unused_data walk, no magic-byte scanning) into
    ``parse_warc_records_strict`` Content-Length record parsing.  The
    oracle rebuilds every field from ``documents`` directly, so the
    compress/split/parse chain must be an exact identity: record text,
    Content-Length, and each record's member position within its
    archive (sources/io.py: split_gzip_members, gzip_member_records,
    gzip_members_bytes)."""
    from adtl_spark.sources.io import (
        gzip_member_records,
        parse_warc_records_strict,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")

    def build_archive(pdf):
        import pandas as pd

        from adtl_spark.sources.io import gzip_members_bytes

        pdf = pdf.sort_values("doc_id")
        recs = []
        for d, t in zip(pdf["doc_id"], pdf["text"]):
            body = f"D{int(d)}:{(t or '')[:80]}"
            rec = (
                "WARC/1.0\r\nWARC-Type: response\r\n"
                f"WARC-Target-URI: http://corpus.test/doc/{int(d)}\r\n"
                f"Content-Length: {len(body)}\r\n\r\n{body}\r\n\r\n"
            )
            recs.append(rec.encode("utf-8"))
        return pd.DataFrame(
            {
                "archive_id": [int(pdf["__f"].iloc[0])],
                "content": [gzip_members_bytes(recs)],
            }
        )

    # one archive per 64 consecutive docs: file count scales with the
    # corpus, each group's in-memory archive stays 64-record-bounded
    archives = (
        docs.withColumn("__f", F.floor(F.col("doc_id") / 64))
        .groupBy("__f")
        .applyInPandas(build_archive, schema="archive_id long, content binary")
    )
    members = gzip_member_records(archives)
    recs = parse_warc_records_strict(
        members, content_col="value", passthrough=("member_pos",)
    )
    return _ckpt_order(recs.filter(F.col("warc_type") == "response")
        .select(
            F.regexp_extract(F.col("target_uri"), r"(\d+)$", 1)
            .cast("long")
            .alias("doc_id"),
            F.col("content").alias("rec_text"),
            F.col("content_length"),
            # the REAL member position from the gzip split, carried
            # through parsing — the oracle pins it to doc_id % 64
            F.col("member_pos"),
        ), "doc_id")


def web_warc_gz_fetch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDX-style RANDOM ACCESS into ``.warc.gz`` archives value-checked
    end to end: the same record-per-member archives as
    ``web_warc_gz_roundtrip``, but instead of scanning, a manifest of
    wanted members (every 17th document) is built from the member walk
    and ``fetch_gzip_members`` inflates ONLY those members — a
    broadcast of the query-sized fetch list against the archive
    relation, per-member slice decompression, then strict WARC parsing
    with the doc id carried through as a passthrough column.  The
    oracle selects the same documents directly, so offset bookkeeping,
    the single-member inflate and the parse must all be exact
    (sources/io.py: fetch_gzip_members, read_gzip_member_at)."""
    from adtl_spark.sources.io import (
        fetch_gzip_members,
        gzip_member_records,
        parse_warc_records_strict,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")

    def build_archive(pdf):
        import pandas as pd

        from adtl_spark.sources.io import gzip_members_bytes

        pdf = pdf.sort_values("doc_id")
        recs = []
        for d, t in zip(pdf["doc_id"], pdf["text"]):
            body = f"D{int(d)}:{(t or '')[:80]}"
            rec = (
                "WARC/1.0\r\nWARC-Type: response\r\n"
                f"WARC-Target-URI: http://corpus.test/doc/{int(d)}\r\n"
                f"Content-Length: {len(body)}\r\n\r\n{body}\r\n\r\n"
            )
            recs.append(rec.encode("utf-8"))
        return pd.DataFrame(
            {
                "archive_id": [int(pdf["__f"].iloc[0])],
                "content": [gzip_members_bytes(recs)],
            }
        )

    archives = (
        docs.withColumn("__f", F.floor(F.col("doc_id") / 64))
        .groupBy("__f")
        .applyInPandas(build_archive, schema="archive_id long, content binary")
    )
    # the CDX manifest: member offsets keyed by archive, doc id from the
    # contiguous-64 layout (pinned by the roundtrip gate)
    members = gzip_member_records(archives, passthrough=("archive_id",))
    manifest = members.select(
        "archive_id",
        "member_off",
        "member_len",
        (F.col("archive_id") * 64 + F.col("member_pos")).alias("doc_id"),
    ).filter(F.col("doc_id") % 17 == 3)
    fetched = fetch_gzip_members(archives, manifest)
    recs = parse_warc_records_strict(
        fetched, content_col="value", passthrough=("doc_id",)
    )
    return recs.select(
        "doc_id",
        F.col("content").alias("rec_text"),
        F.col("content_length"),
    ).orderBy("doc_id")


_ROBOTS_FIXTURE = """
# corpus.test crawl policy
Sitemap: http://corpus.test/sitemap-a.xml

User-agent: badbot
Disallow: /

User-agent: *
Crawl-delay: 2.5
Disallow: /private/
Disallow: /tmp*
Allow: /private/pub/
Disallow: /exact$
Allow: /exa

Sitemap: http://corpus.test/sitemap-b.xml
"""


def quality_compression_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The compression-ratio quality heuristic exercised with a pinned
    ORDER invariant: per document, the zlib ratio of its text is
    compared against the ratio of a 10x-repeated 40-char slice of the
    same text — repetition MUST compress strictly better, whatever the
    zlib build produces.  The oracle value-checks the exact byte
    lengths (SQL arithmetic) and the invariant boolean; the raw ratio
    itself is zlib-version-dependent by nature and is pinned relative,
    not absolute — the JPEG-gate pattern for codec-backed signals
    (operators/text.py:compression_signal)."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    rep = docs.select(
        "doc_id",
        F.repeat(F.substring("text", 1, 40), 10).alias("text"),
    )
    base = X.compression_signal(docs)
    reps = X.compression_signal(rep).select(
        F.col("doc_id"),
        F.col("n_bytes").alias("rep_bytes"),
        F.col("ratio_q4").alias("rep_ratio_q4"),
    )
    return _ckpt_order(base.join(reps, "doc_id")
        .select(
            "doc_id",
            "n_bytes",
            "rep_bytes",
            (F.col("rep_ratio_q4") < F.col("ratio_q4")).alias(
                "rep_compresses_better"
            ),
        ), "doc_id")


def web_sitemap_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sitemap.xml ingestion value-checked end to end: per document a
    three-entry sitemap is constructed (every second entry carries a
    ``<lastmod>``; entry URLs and dates from id arithmetic) and
    parse_sitemap splits/extracts it with native Columns.  The oracle
    rebuilds every (loc, lastmod) directly from ``documents``, so the
    block split, field extraction and the optional-field NULL contract
    are exact (operators/text.py:parse_sitemap)."""
    from adtl_spark.operators.text import parse_sitemap

    d = F.col("doc_id")
    entries = []
    for k in range(3):
        url = F.concat(
            F.lit("http://corpus.test/doc/"),
            d.cast("string"),
            F.lit(f"-{k}"),
        )
        lastmod = F.concat(
            F.lit("2024-01-"),
            F.lpad((1 + (d + k) % 27).cast("string"), 2, "0"),
        )
        entry = F.concat(
            F.lit("<url><loc>"),
            url,
            F.lit("</loc>"),
            F.when(
                F.lit(k % 2 == 0),
                F.concat(F.lit("<lastmod>"), lastmod, F.lit("</lastmod>")),
            ).otherwise(F.lit("")),
            F.lit("</url>"),
        )
        entries.append(entry)
    xml = F.concat(
        F.lit('<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">'),
        *entries,
        F.lit("</urlset>"),
    )
    docs = _t(spark, sf_dir, "documents").select("doc_id", xml.alias("xml"))
    return parse_sitemap(docs).orderBy("doc_id", "url_pos")


def web_sitemap_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sitemap ingestion over a MIXED urlset/sitemapindex corpus — the
    crawl frontier's real first fetch: every third document publishes a
    ``<sitemapindex>`` whose two ``<sitemap><loc>`` children must come
    out as kind='sitemap' rows (to go back into the fetch queue), the
    rest publish two-entry ``<urlset>`` files emitting kind='url' rows.
    Every loc carries a spec-mandated ``&amp;``-escaped query ampersand
    (the urlset side also an ``&apos;`` pair), so the XML entity decode
    is value-checked too; lastmod presence alternates per kind to pin
    the optional-field NULL contract on both paths.  The oracle
    rebuilds every (entry_pos, kind, loc, lastmod) from id arithmetic
    (operators/text.py: parse_sitemap_any, xml_unescape)."""
    from adtl_spark.operators.text import parse_sitemap_any

    d = F.col("doc_id")
    is_idx = d % 3 == 0

    def entry(k: int) -> Column:
        # child-sitemap pointer (index docs): lastmod on k=0 only
        sm_loc = F.concat(
            F.lit("http://corpus.test/sm/"),
            d.cast("string"),
            F.lit(f"-{k}.xml?a=1&amp;b="),
            d.cast("string"),
        )
        sm_lastmod = F.concat(
            F.lit("2024-02-"),
            F.lpad((1 + (d + k) % 27).cast("string"), 2, "0"),
        )
        sm = F.concat(
            F.lit("<sitemap><loc>"),
            sm_loc,
            F.lit("</loc>"),
            F.when(
                F.lit(k == 0),
                F.concat(F.lit("<lastmod>"), sm_lastmod, F.lit("</lastmod>")),
            ).otherwise(F.lit("")),
            F.lit("</sitemap>"),
        )
        # page entry (urlset docs): lastmod on k=1 only
        u_loc = F.concat(
            F.lit("http://corpus.test/doc/"),
            d.cast("string"),
            F.lit(f"?k={k}&amp;t=&apos;q&apos;"),
        )
        u_lastmod = F.concat(
            F.lit("2024-03-"),
            F.lpad((1 + (d + k) % 27).cast("string"), 2, "0"),
        )
        u = F.concat(
            F.lit("<url><loc>"),
            u_loc,
            F.lit("</loc>"),
            F.when(
                F.lit(k == 1),
                F.concat(F.lit("<lastmod>"), u_lastmod, F.lit("</lastmod>")),
            ).otherwise(F.lit("")),
            F.lit("</url>"),
        )
        return F.when(is_idx, sm).otherwise(u)

    ns = ' xmlns="http://www.sitemaps.org/schemas/sitemap/0.9"'
    xml = F.when(
        is_idx,
        F.concat(
            F.lit(f"<sitemapindex{ns}>"),
            entry(0),
            entry(1),
            F.lit("</sitemapindex>"),
        ),
    ).otherwise(
        F.concat(F.lit(f"<urlset{ns}>"), entry(0), entry(1), F.lit("</urlset>"))
    )
    docs = _t(spark, sf_dir, "documents").select("doc_id", xml.alias("xml"))
    return parse_sitemap_any(docs).orderBy("doc_id", "entry_pos")


def web_robots_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """robots.txt compliance filtering (RFC 9309) value-checked end to
    end: a fixed robots policy parses (group selection by longest
    user-agent prefix) and evaluates against six URL shapes per
    document — no-rule default-allow, prefix disallow, longer-allow
    override, ``*`` wildcard, ``$`` exact anchor beating a shorter
    allow, and plain allow.  Longest-match + Allow-on-tie semantics run
    as a broadcast LIKE theta-join with a max_by verdict; the oracle
    replays the same translated LIKE patterns and the specificity
    ranking in SQL (operators/text.py: parse_robots, apply_robots)."""
    from adtl_spark.operators.text import apply_robots, parse_robots

    rules = parse_robots(_ROBOTS_FIXTURE, agent="corpusbot/2.0")
    d = F.col("doc_id")
    path = (
        F.when(d % 6 == 0, F.concat(F.lit("/ok/"), d.cast("string")))
        .when(d % 6 == 1, F.concat(F.lit("/private/p"), d.cast("string")))
        .when(d % 6 == 2, F.concat(F.lit("/private/pub/q"), d.cast("string")))
        .when(d % 6 == 3, F.concat(F.lit("/tmp"), d.cast("string")))
        .when(d % 6 == 4, F.lit("/exact"))
        .otherwise(F.concat(F.lit("/exa"), d.cast("string")))
    )
    urls = (
        _t(spark, sf_dir, "documents")
        .select("doc_id")
        .select(
            "doc_id",
            F.concat(F.lit("http://corpus.test"), path).alias("url"),
        )
    )
    return (
        apply_robots(urls, rules)
        .select("doc_id", "path", "allowed", "rule")
        .orderBy("doc_id")
    )


def web_frontier_compose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full crawl-frontier chain composed end to end: robots.txt
    auxiliary directives (``Crawl-delay`` from the winning agent group,
    file-scoped ``Sitemap:`` lines) feed sitemap parsing and compliance
    filtering — per document a three-entry urlset (allowed /
    group-disallowed / longer-allow-override paths) parses, every URL
    runs through the RFC 9309 evaluator, and the surviving URLs get a
    delay-aware schedule: ``fetch_after_ms`` = queue position x the
    group's crawl delay, plus ``n_sitemaps`` pinning that both Sitemap
    lines (one before any group, one after) were collected.  The oracle
    rebuilds the surviving entries, their winning rules and the
    schedule from id arithmetic (operators/text.py: robots_directives,
    parse_sitemap, apply_robots)."""
    from adtl_spark.operators.text import (
        apply_robots,
        parse_robots,
        parse_sitemap,
        robots_directives,
    )

    rules = parse_robots(_ROBOTS_FIXTURE, agent="corpusbot/2.0")
    dirs = robots_directives(_ROBOTS_FIXTURE, agent="corpusbot/2.0")
    delay_ms = int(dirs["crawl_delay"] * 1000)  # 2.5 s -> 2500 ms
    n_sitemaps = len(dirs["sitemaps"])

    d = F.col("doc_id")
    paths = [
        F.concat(F.lit("/ok/"), d.cast("string")),
        F.concat(F.lit("/private/p"), d.cast("string")),
        F.concat(F.lit("/private/pub/q"), d.cast("string")),
    ]
    entries = [
        F.concat(
            F.lit("<url><loc>http://corpus.test"), p, F.lit("</loc></url>")
        )
        for p in paths
    ]
    xml = F.concat(
        F.lit('<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">'),
        *entries,
        F.lit("</urlset>"),
    )
    docs = _t(spark, sf_dir, "documents").select("doc_id", xml.alias("xml"))
    urls = parse_sitemap(docs).select(
        "doc_id", "url_pos", F.col("loc").alias("url")
    )
    return (
        apply_robots(urls, rules)
        .filter(F.col("allowed"))
        .select(
            "doc_id",
            "url_pos",
            "path",
            "rule",
            (F.col("url_pos") * delay_ms).alias("fetch_after_ms"),
            F.lit(n_sitemaps).cast("int").alias("n_sitemaps"),
        )
        .orderBy("doc_id", "url_pos")
    )


def web_frontier_politeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host politeness scheduling value-checked end to end: the
    corpus's URLs spread over seven hosts (id arithmetic), three of
    which carry robots Crawl-delay overrides in a broadcast delay
    relation; schedule_frontier assigns each URL its host-owned shard
    (md5-60 hash — all of a host's URLs in one shard), its position in
    the host's FIFO queue, and the delay-scaled fetch offset.  The
    oracle replays host extraction, the portable shard hash, the
    row_number queue and the delay join in SQL, so the whole fetch plan
    is exact (operators/text.py: schedule_frontier)."""
    from adtl_spark.operators.text import schedule_frontier

    d = F.col("doc_id")
    urls = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.lit("http://H"),  # mixed case: host must lowercase
            (d % 7).cast("string"),
            F.lit(".test/p/"),
            d.cast("string"),
        ).alias("url"),
    )
    delays = spark.createDataFrame(
        [("h0.test", 500), ("h1.test", 1000), ("h2.test", 1500)],
        "host string, delay_ms long",
    )
    return (
        schedule_frontier(urls, delays, default_delay_ms=2000)
        .select(
            "doc_id", "host", "shard", "fetch_seq", "fetch_after_ms"
        )
        .orderBy("doc_id")
    )


def web_frontier_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Priority-ordered frontier scheduling — the operator that closes
    the curation-crawl loop (select -> schedule): each host's
    politeness queue orders by a supplied priority column DESCENDING
    (here ``n_chars``, standing in for a novelty/quality score) instead
    of URL order, so the per-host delay budget is spent on the most
    valuable URLs first.  The URL set mixes in userinfo-decorated and
    port-decorated authorities (``crawler@h3.test``, ``H2.test:8080``)
    that MUST normalize into the bare host's queue and pick up its
    Crawl-delay — the raw-authority bug would split them into separate
    politeness queues with the default delay.  The oracle replays the
    priority row_number and the delay join in SQL (operators/text.py:
    schedule_frontier(priority_col=...))."""
    from adtl_spark.operators.text import schedule_frontier

    d = F.col("doc_id")
    k = (d % 5).cast("string")
    ds = d.cast("string")
    url = (
        F.when(
            d % 10 == 3,
            F.concat(
                F.lit("http://crawler@h"), k, F.lit(".test/p/"), ds
            ),
        )
        .when(
            d % 10 == 7,
            F.concat(F.lit("http://H"), k, F.lit(".test:8080/p/"), ds),
        )
        .otherwise(F.concat(F.lit("http://h"), k, F.lit(".test/p/"), ds))
    )
    urls = _t(spark, sf_dir, "documents").select(
        "doc_id", url.alias("url"), F.col("n_chars").alias("priority")
    )
    delays = spark.createDataFrame(
        [("h0.test", 250), ("h1.test", 750)], "host string, delay_ms long"
    )
    return (
        schedule_frontier(
            urls, delays, default_delay_ms=1500, priority_col="priority"
        )
        .select("doc_id", "host", "fetch_seq", "fetch_after_ms")
        .orderBy("doc_id")
    )


def web_frontier_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hot-host-safe BANDED politeness numbering value-checked
    against the plain window's SQL semantics: same fixture shape as
    ``web_frontier_politeness`` but with a deliberately skewed host
    distribution (even ids all on one host — half the corpus in one
    politeness queue) and ``banded_numbering=True``, so the
    range-partition + per-band row_number + per-host prefix-sum offset
    plan must reproduce EXACTLY the row_number the oracle computes with
    one window.  This is the claim the operator makes: no partition
    ever holds a whole monster host, and the fetch plan is bit-for-bit
    the plain plan's (operators/text.py: schedule_frontier
    banded_numbering)."""
    from adtl_spark.operators.text import schedule_frontier

    d = F.col("doc_id")
    host_k = F.when(d % 2 == 0, F.lit(0)).otherwise(d % 11)
    urls = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.lit("http://h"), host_k.cast("string"),
            F.lit(".test/p/"), d.cast("string"),
        ).alias("url"),
    )
    delays = spark.createDataFrame(
        [("h0.test", 300)], "host string, delay_ms long"
    )
    return (
        schedule_frontier(
            urls, delays, default_delay_ms=900,
            banded_numbering=True, n_bands=48,
        )
        .select("doc_id", "host", "fetch_seq", "fetch_after_ms")
        .orderBy("doc_id")
    )


def web_wet_charset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Charset-aware WET extraction value-checked byte-exact on real
    crawl shapes: per document an HTTP response wrapped in a binary
    WARC record, four charset classes by id — utf-8 declared in the
    Content-Type header, windows-1252 declared in the header (en dash
    and euro sign live OUTSIDE latin-1, so a wrong decode can't pass),
    utf-16-le carried by BOM alone (the header stays bare text/html —
    BOM precedence is what's under test), and iso-8859-1 declared ONLY
    by a meta tag in the body.  The chain is the real binary path:
    record-per-member .warc.gz -> byte-true member split ->
    parse_warc_records_bytes (Content-Length counts BYTES — the utf-16
    class doubles its byte count precisely) -> http_text_records
    (WHATWG precedence decode) -> html_to_text.  Every 16th document
    additionally contributes a NULL-payload record, which must come
    back as a (NULL, NULL, NULL) row — http_text_records is
    cardinality-preserving, not row-dropping, so crawl-audit record
    counts balance.  The oracle rebuilds status, canonical charset name
    and the exact non-ASCII text from id arithmetic (sources/io.py:
    parse_warc_records_bytes, decode_http_response, http_text_records;
    operators/text.py: html_to_text)."""
    from adtl_spark.operators.text import html_to_text
    from adtl_spark.sources.io import (
        gzip_member_records,
        parse_warc_records_bytes,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id")

    def build_archive(pdf):
        import pandas as pd

        from adtl_spark.sources.io import gzip_members_bytes

        pdf = pdf.sort_values("doc_id")
        recs = []
        for d in pdf["doc_id"]:
            d = int(d)
            cls = d % 4
            payload = ["café", "déjà–vu €", "日本語 café", "niño ¡hola!"][cls]
            meta = '<meta charset="iso-8859-1">' if cls == 3 else ""
            html = (
                f"<html><head>{meta}<title>t</title></head>"
                f"<body><p>Doc {d} {payload}</p></body></html>"
            )
            enc = ["utf-8", "cp1252", "utf-16-le", "latin-1"][cls]
            body = html.encode(enc)
            if cls == 2:
                body = b"\xff\xfe" + body  # BOM is the ONLY declaration
            ct = [
                b"text/html; charset=utf-8",
                b"text/html; charset=windows-1252",
                b"text/html",
                b"text/html",
            ][cls]
            http = (
                b"HTTP/1.1 200 OK\r\nContent-Type: " + ct + b"\r\n\r\n" + body
            )
            rec = (
                b"WARC/1.0\r\nWARC-Type: response\r\n"
                + f"WARC-Target-URI: http://corpus.test/doc/{d}\r\n".encode()
                + f"Content-Length: {len(http)}\r\n\r\n".encode()
                + http
                + b"\r\n\r\n"
            )
            recs.append(rec)
        return pd.DataFrame(
            {
                "archive_id": [int(pdf["__f"].iloc[0])],
                "content": [gzip_members_bytes(recs)],
            }
        )

    archives = (
        docs.withColumn("__f", F.floor(F.col("doc_id") / 64))
        .groupBy("__f")
        .applyInPandas(build_archive, schema="archive_id long, content binary")
    )
    members = gzip_member_records(archives, encoding=None)
    recs = parse_warc_records_bytes(members, content_col="value")
    from adtl_spark.sources.io import http_text_records

    resp = recs.filter(F.col("warc_type") == "response").select(
        "target_uri", "content"
    )
    # NULL-payload rows (a fetch that stored no body): must pass through
    # as (NULL, NULL, NULL), not vanish — cardinality preservation
    nulls = docs.filter(F.col("doc_id") % 16 == 5).select(
        F.concat(
            F.lit("http://corpus.test/nullbody/"),
            F.col("doc_id").cast("string"),
        ).alias("target_uri"),
        F.lit(None).cast("binary").alias("content"),
    )
    decoded = http_text_records(
        resp.unionByName(nulls), passthrough=("target_uri",)
    )
    return _ckpt_order(decoded.select(
        F.regexp_extract(F.col("target_uri"), r"(\d+)$", 1)
        .cast("long")
        .alias("doc_id"),
        "http_status",
        "charset",
        html_to_text(F.col("text")).alias("text"),
    ), "doc_id")


def multimodal_image_augment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The standard augmentation pair — horizontal flip then center
    crop — value-checked pixel-for-pixel: per document an arithmetic P6
    image (byte j = (seed*31 + j*131) % 256) flips, crops to its center
    half, and the result's channel sums and position-weighted checksum
    are computed through image_pixel_stats.  The oracle replays the
    composed index map O(y',x') = I(y0+y', W-1-x0-x') with
    generate_series arithmetic, so both augmentations' stride math is
    exact (multimodal.flip_image_h/crop_image)."""
    from adtl_spark.operators import multimodal as M

    docs = _t(spark, sf_dir, "documents").select("doc_id")

    def build(batches):
        import pandas as pd

        for pdf in batches:
            rows = []
            for d in pdf["doc_id"]:
                d = int(d)
                w, h = 8 + d % 16, 8 + (d * 3) % 16
                rows.append(
                    (d, M.synthetic_ppm_arith(w, h, seed=d * 7 + 3))
                )
            yield pd.DataFrame(rows, columns=["media_id", "payload"])

    media = docs.mapInPandas(build, schema="media_id long, payload binary")
    out = M.image_pixel_stats(M.crop_image(M.flip_image_h(media)))
    return _ckpt_order(out.select(
        "media_id",
        F.col("width").cast("int").alias("width"),
        F.col("height").cast("int").alias("height"),
        F.col("sum_r").cast("long").alias("sum_r"),
        F.col("sum_g").cast("long").alias("sum_g"),
        F.col("sum_b").cast("long").alias("sum_b"),
        F.col("checksum").cast("long").alias("checksum"),
    ), "media_id")


def multimodal_dhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-dup PAIR GENERATION value-checked end to end: 20
    arithmetic textures replicated across the corpus, with every odd id
    carrying a one-byte perturbation (channel byte 0 += 128 — at most
    one dHash bit moves, so banding must still catch the cross-variant
    pairs); image_dhash -> dhash_pairs(max_hamming=8) emits every
    within-radius pair with its exact Hamming distance.  The oracle
    replays the hashes per (seed, variant) — the perturbation enters the
    per-bit arithmetic — and then the ENTIRE banding join in SQL
    (4x16-bit block equality as an OR, bit_count(xor) Hamming, the same
    radius filter), so candidate generation, dedup, and distance all
    hash-match (multimodal.image_dhash / dhash_pairs)."""
    from adtl_spark.operators import multimodal as M

    docs = _t(spark, sf_dir, "documents").select("doc_id")

    def build(batches):
        import pandas as pd

        for pdf in batches:
            rows = []
            for i in pdf["doc_id"]:
                i = int(i)
                seed = i % 20
                w, h = 16 + seed % 5, 16 + (seed * 3) % 5
                payload = bytearray(M.synthetic_ppm_arith(w, h, seed=seed))
                if i % 2 == 1:
                    hdr = len(f"P6\n{w} {h}\n255\n")
                    payload[hdr] = (payload[hdr] + 128) % 256
                rows.append((i, bytes(payload)))
            yield pd.DataFrame(rows, columns=["media_id", "payload"])

    media = docs.mapInPandas(build, schema="media_id long, payload binary")
    return M.dhash_pairs(M.image_dhash(media), max_hamming=8).orderBy(
        "id_a", "id_b"
    )


def _dhash_pairs_oracle() -> str:
    """DuckDB twin of :func:`multimodal_dhash_pairs`: per-bit hash
    replay with the variant perturbation folded into the byte formula,
    then the band-join candidate generation and Hamming filter in SQL."""

    def byte(j: str) -> str:
        return (
            f"((seed*31 + ({j})*131 + CASE WHEN v = 1 AND ({j}) = 0 "
            f"THEN 128 ELSE 0 END) % 256)"
        )

    def gray(base: str) -> str:
        return (
            f"{byte(base)} * 299 + {byte(f'{base} + 1')} * 587 + "
            f"{byte(f'{base} + 2')} * 114"
        )

    ga = gray("(y0*W + x0)*3")
    gb = gray("(y0*W + x1)*3")
    ham = (
        "bit_count(xor(a.dhash_hi, b.dhash_hi)) "
        "+ bit_count(xor(a.dhash_lo, b.dhash_lo))"
    )
    return f"""
    WITH d AS (
      SELECT doc_id, doc_id % 20 AS seed, doc_id % 2 AS v FROM documents
    ),
    dims AS (
      SELECT DISTINCT seed, v,
             16 + seed % 5 AS W, 16 + (seed * 3) % 5 AS H
      FROM d
    ),
    cells AS (
      SELECT seed, v, W, k,
             ((k % 8) * W) // 9 AS x0,
             (((k % 8) + 1) * W) // 9 AS x1,
             ((k // 8) * H) // 8 AS y0
      FROM dims,
           LATERAL (SELECT unnest(generate_series(0, CAST(63 AS BIGINT))) AS k) g
    ),
    gg AS (
      SELECT seed, v, k, {ga} AS ga, {gb} AS gb FROM cells
    ),
    hs AS (
      SELECT seed, v,
        CAST(sum(CASE WHEN k < 32 AND ga < gb
                 THEN (CAST(1 AS BIGINT) << k) ELSE 0 END) AS BIGINT)
          AS dhash_lo,
        CAST(sum(CASE WHEN k >= 32 AND ga < gb
                 THEN (CAST(1 AS BIGINT) << (k - 32)) ELSE 0 END) AS BIGINT)
          AS dhash_hi
      FROM gg GROUP BY seed, v
    ),
    hd AS (
      SELECT d.doc_id, h.dhash_hi, h.dhash_lo
      FROM d JOIN hs h ON h.seed = d.seed AND h.v = d.v
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST({ham} AS BIGINT) AS hamming
    FROM hd a JOIN hd b ON a.doc_id < b.doc_id
    WHERE ((a.dhash_lo & 65535) = (b.dhash_lo & 65535)
        OR ((a.dhash_lo >> 16) & 65535) = ((b.dhash_lo >> 16) & 65535)
        OR (a.dhash_hi & 65535) = (b.dhash_hi & 65535)
        OR ((a.dhash_hi >> 16) & 65535) = ((b.dhash_hi >> 16) & 65535))
      AND {ham} <= 8
    ORDER BY id_a, id_b
    """


def _dhash_recall_classes() -> list[tuple[int, int, int, int, int]]:
    """(parity, v, cid, dhash_hi, dhash_lo) rows of the 18 constructed
    hash classes the dHash-banding recall gate measures on: a shared
    base pattern XOR v flipped bits, where even-parity classes flip bits
    CYCLING across the four 16-bit bands (the adversarial layout — any
    4+ consecutive flips touch every band) and odd-parity classes flip
    bits CONCENTRATED in bands 0-1 (bands 2-3 always shared — the
    friendly layout).  Pairwise Hamming distances span 0..8+ with both
    catchable and uncatchable pairs at 4..8, which no toy IMAGE corpus
    produces on purpose (texture hashes land ~32 bits apart), so the
    recall measurement runs at the hash level the banding operates on."""
    adv = [0, 16, 32, 48, 7, 23, 39, 55]
    con = [0, 7, 8, 15, 16, 23, 24, 31]
    base = (0x5A5A5A5A << 32) | 0x3C3C3C3C
    rows = []
    for p, fam in ((0, adv), (1, con)):
        for v in range(9):
            m = base
            for b in fam[:v]:
                m ^= 1 << b
            rows.append(
                (p, v, p * 9 + v, (m >> 32) & 0xFFFFFFFF, m & 0xFFFFFFFF)
            )
    return rows


def multimodal_dhash_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MEASURED recall of dhash_pairs' 4x16-bit-band candidate
    generation against exact Hamming truth — the measured-approximation
    twin the repo's own standard demands of every blocking scheme
    (dedup_minhash_recall / ann_lsh_recall pattern): documents map onto
    18 constructed hash classes (_dhash_recall_classes) whose pairwise
    distances cover 0..8 with band-adversarial AND band-friendly pairs;
    truth is the exact class-pair distance table weighted by class
    sizes (an 18x18 broadcast cross join — never doc-level all-pairs on
    the Spark side), found is the REAL dhash_pairs operator at
    max_hamming=8.  Output: one row per distance (hamming, n_true,
    n_hit, recall) — recall is 1.0 through distance 3 (the pigeonhole
    guarantee) and degrades above it exactly where flips span all four
    bands; the oracle replays both sides, banding predicate included."""
    from adtl_spark.operators import multimodal as M

    classes = spark.createDataFrame(
        _dhash_recall_classes(),
        "p int, v int, cid int, dhash_hi long, dhash_lo long",
    )
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        (F.col("doc_id") % 2).cast("int").alias("p"),
        (F.expr("doc_id DIV 2") % 9).cast("int").alias("v"),
    )
    classed = docs.join(F.broadcast(classes), ["p", "v"]).select(
        F.col("doc_id").alias("media_id"), "cid", "dhash_hi", "dhash_lo"
    )
    # CONTRACTED found side (r14, the dedup_cluster §14 precedent —
    # sanctioned by the r13 verdict with the bit-identity proof): the
    # banding predicate AND the hamming are functions of the HASH PAIR
    # alone, and this gate only consumes pair COUNTS per hamming, so the
    # REAL dhash_pairs operator runs over the DISTINCT-hash relation
    # (rep id = min media_id per hash, <= 18 rows here) and the counts
    # expand by group sizes: a cross-hash rep pair stands for n_a*n_b
    # doc pairs at its hamming; a same-hash group is a hamming-0 clique
    # (all four blocks equal -> always banded) of C(n,2) pairs.  Output
    # proven identical: exceptAll diff 0 vs the doc-level form at
    # sf0.1/sf0.01 + the unchanged doc-level oracle.  Before: the band
    # join exploded ~5000 docs over 18 hot hash values into ~1.4M
    # doc-level candidates; after: <= C(18,2) rep candidates.
    uh = cut(
        classed.groupBy("dhash_hi", "dhash_lo").agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.min("media_id").alias("media_id"),
        )
    )
    ph = M.dhash_pairs(
        uh.select("media_id", "dhash_hi", "dhash_lo"), max_hamming=8
    )
    cross = (
        ph.join(
            F.broadcast(
                uh.select(F.col("media_id").alias("id_a"), F.col("n").alias("n_a"))
            ),
            "id_a",
        )
        .join(
            F.broadcast(
                uh.select(F.col("media_id").alias("id_b"), F.col("n").alias("n_b"))
            ),
            "id_b",
        )
        .select("hamming", (F.col("n_a") * F.col("n_b")).alias("n_pairs"))
    )
    same = uh.filter(F.col("n") > 1).select(
        F.lit(0).alias("hamming"),
        F.floor(F.col("n") * (F.col("n") - 1) / 2).cast("long").alias("n_pairs"),
    )
    found = (
        cross.unionByName(same)
        .groupBy("hamming")
        .agg(F.sum("n_pairs").cast("long").alias("n_hit"))
    )
    sizes = classed.groupBy("cid", "dhash_hi", "dhash_lo").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    a, b = sizes.alias("a"), sizes.alias("b")
    ham = F.bit_count(
        F.col("a.dhash_hi").bitwiseXOR(F.col("b.dhash_hi"))
    ) + F.bit_count(F.col("a.dhash_lo").bitwiseXOR(F.col("b.dhash_lo")))
    truth = (
        a.crossJoin(F.broadcast(b))
        .filter(F.col("a.cid") <= F.col("b.cid"))
        .filter(ham <= 8)
        .select(
            ham.alias("hamming"),
            F.when(
                F.col("a.cid") == F.col("b.cid"),
                F.floor(F.col("a.n") * (F.col("a.n") - 1) / 2),
            )
            .otherwise(F.col("a.n") * F.col("b.n"))
            .cast("long")
            .alias("n_pairs"),
        )
        .groupBy("hamming")
        .agg(F.sum("n_pairs").cast("long").alias("n_true"))
    )
    n_hit = F.coalesce(F.col("n_hit"), F.lit(0)).cast("long")
    return (
        truth.join(found, "hamming", "left")
        .select(
            F.col("hamming").cast("long").alias("hamming"),
            "n_true",
            n_hit.alias("n_hit"),
            (
                F.floor(
                    n_hit.cast("double") / F.col("n_true").cast("double")
                    * 10000
                    + F.lit(0.5)
                )
                / 10000.0
            ).alias("recall"),
        )
        .orderBy("hamming")
    )


def _dhash_recall_oracle() -> str:
    """DuckDB twin of :func:`multimodal_dhash_recall`: the same 18-class
    VALUES table, exact class-pair truth, and a doc-level self-join that
    replays the 4-band candidate predicate plus the Hamming filter."""
    vals = ", ".join(
        f"({p}, {v}, {cid}, CAST({hi} AS BIGINT), CAST({lo} AS BIGINT))"
        for p, v, cid, hi, lo in _dhash_recall_classes()
    )
    ham_ab = (
        "bit_count(xor(a.dhash_hi, b.dhash_hi)) "
        "+ bit_count(xor(a.dhash_lo, b.dhash_lo))"
    )
    return f"""
    WITH cls(p, v, cid, dhash_hi, dhash_lo) AS (VALUES {vals}),
    d AS (
      SELECT doc_id, CAST(doc_id % 2 AS INT) AS p,
             CAST((doc_id // 2) % 9 AS INT) AS v
      FROM documents
    ),
    h AS (
      SELECT d.doc_id, c.cid, c.dhash_hi, c.dhash_lo
      FROM d JOIN cls c ON c.p = d.p AND c.v = d.v
    ),
    sizes AS (
      SELECT cid, dhash_hi, dhash_lo, CAST(count(*) AS BIGINT) AS n
      FROM h GROUP BY 1, 2, 3
    ),
    truth AS (
      SELECT {ham_ab} AS hamming,
             CAST(sum(CASE WHEN a.cid = b.cid THEN a.n * (a.n - 1) // 2
                      ELSE a.n * b.n END) AS BIGINT) AS n_true
      FROM sizes a JOIN sizes b ON a.cid <= b.cid
      WHERE {ham_ab} <= 8
      GROUP BY 1
    ),
    found AS (
      SELECT hamming, CAST(count(*) AS BIGINT) AS n_hit FROM (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
               {ham_ab} AS hamming
        FROM h a JOIN h b ON a.doc_id < b.doc_id
        WHERE ((a.dhash_lo & 65535) = (b.dhash_lo & 65535)
            OR ((a.dhash_lo >> 16) & 65535) = ((b.dhash_lo >> 16) & 65535)
            OR (a.dhash_hi & 65535) = (b.dhash_hi & 65535)
            OR ((a.dhash_hi >> 16) & 65535) = ((b.dhash_hi >> 16) & 65535))
          AND {ham_ab} <= 8
      ) GROUP BY 1
    )
    SELECT CAST(t.hamming AS BIGINT) AS hamming, t.n_true,
           CAST(COALESCE(f.n_hit, 0) AS BIGINT) AS n_hit,
           floor(CAST(COALESCE(f.n_hit, 0) AS DOUBLE)
                 / CAST(t.n_true AS DOUBLE) * 10000 + 0.5) / 10000.0
             AS recall
    FROM truth t LEFT JOIN found f USING (hamming)
    ORDER BY hamming
    """


def multimodal_adpcm_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IMA ADPCM codec (4-bit compressed audio, WAV format 0x11)
    exercised end to end: per document an integer triangle wave (full
    + ragged blocks from id arithmetic) encodes at 4 bits/sample and
    decodes back; the gate emits the exact sample count (block math +
    fact-chunk trim — SQL-replayable) and pins the reconstruction
    envelope (measured max |err| = 88 at this slope, deterministic;
    bound 128) — ADPCM is lossy, so the bound is the invariant, the
    count is the value check (multimodal.encode_wav_adpcm/
    decode_wav_adpcm, dispatched through decode_audio)."""
    docs = _t(spark, sf_dir, "documents").select("doc_id")

    def run(batches):
        import numpy as np
        import pandas as pd

        from adtl_spark.operators.multimodal import (
            decode_audio,
            encode_wav_adpcm,
        )

        for pdf in batches:
            rows = []
            for d in pdf["doc_id"]:
                d = int(d)
                n = 505 * (1 + d % 3) + (d % 97)
                i = np.arange(n)
                tri = (np.abs((i * 64) % 16000 - 8000) - 4000).astype(
                    np.int16
                )
                rate, _ch, _bits, pcm = decode_audio(
                    encode_wav_adpcm(tri.tobytes(), rate=16000)
                )
                out = np.frombuffer(pcm, dtype=np.int16)
                err = (
                    int(np.abs(out.astype(int) - tri.astype(int)).max())
                    if len(out) == n
                    else 1 << 30
                )
                rows.append((d, len(out), rate, err <= 128))
            yield pd.DataFrame(
                rows, columns=["media_id", "n_samples", "sample_rate", "ok"]
            )

    return _ckpt_order(docs.mapInPandas(
        run,
        schema="media_id long, n_samples long, sample_rate int, ok boolean",
    ), "media_id")


def multimodal_g711_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The G.711 codec (µ-law/A-law logarithmic companding, WAV format
    tags 0x07/0x06 — the telephony and ASR-corpus wire format) exercised
    end to end: per document an integer triangle wave compresses to 8
    bits/sample (µ-law for even ids, A-law for odd) and expands back
    through the decode_audio fmt-tag dispatch; the compressor is
    differentially exact against the reference G.711 algorithm over the
    full int16 range (tests), the expansion is a 256-entry LUT built
    from the spec formulas.  The gate emits the exact sample count (one
    byte per sample — SQL-replayable) and pins the companding envelope
    (measured max |err| at this amplitude: 92 µ-law / 32 A-law; bound
    128) — G.711 is lossy, so the bound is the invariant, the count is
    the value check (multimodal.encode_wav_g711/decode_wav_g711)."""
    docs = _t(spark, sf_dir, "documents").select("doc_id")

    def run(batches):
        import numpy as np
        import pandas as pd

        from adtl_spark.operators.multimodal import (
            decode_audio,
            encode_wav_g711,
        )

        for pdf in batches:
            rows = []
            for d in pdf["doc_id"]:
                d = int(d)
                n = 400 * (1 + d % 4) + (d % 89)
                law = "ulaw" if d % 2 == 0 else "alaw"
                i = np.arange(n)
                tri = (np.abs((i * 64) % 16000 - 8000) - 4000).astype(
                    np.int16
                )
                rate, _ch, bits, pcm = decode_audio(
                    encode_wav_g711(tri.tobytes(), rate=8000, law=law)
                )
                out = np.frombuffer(pcm, dtype=np.int16)
                err = (
                    int(np.abs(out.astype(int) - tri.astype(int)).max())
                    if len(out) == n and bits == 16
                    else 1 << 30
                )
                rows.append((d, len(out), rate, law, err <= 128))
            yield pd.DataFrame(
                rows,
                columns=["media_id", "n_samples", "sample_rate", "law", "ok"],
            )

    return _ckpt_order(docs.mapInPandas(
        run,
        schema=(
            "media_id long, n_samples long, sample_rate int, "
            "law string, ok boolean"
        ),
    ), "media_id")


def multimodal_flac_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FLAC codec (operators/flac_lite.py — the lossless ASR-corpus
    format) exercised end to end: per document a deterministic sawtooth
    signal (mono for even ids; stereo with an independent right channel
    for odd ids, left/side decorrelation chosen by the encoder) is
    encoded at block size 512 (multi-frame + partial final block) and
    decoded back through the decode_audio ``fLaC`` dispatch, with frame
    CRC-8/16 and the STREAMINFO stream-MD5 verified in the decoder.
    FLAC is LOSSLESS, so unlike the ADPCM/G.711 gates the oracle
    value-checks the decoded samples themselves: ``pcm_sum`` is the
    exact sum of every decoded sample, replayed by DuckDB from the same
    id arithmetic — any reconstruction error anywhere in the stream
    moves the hash.  ``compressed`` pins that the stream actually
    compresses (< raw PCM bytes) rather than falling back to verbatim."""
    docs = _t(spark, sf_dir, "documents").select("doc_id")

    def run(batches):
        import numpy as np
        import pandas as pd

        from adtl_spark.operators.flac_lite import encode_flac
        from adtl_spark.operators.multimodal import decode_audio

        for pdf in batches:
            rows = []
            for d in pdf["doc_id"]:
                d = int(d)
                n = 300 * (1 + d % 3) + (d % 53)
                ch = 1 + (d % 2)
                i = np.arange(n, dtype=np.int64)
                left = ((i * (13 + d % 7) + d) % 4001 - 2000).astype(
                    np.int16
                )
                if ch == 2:
                    right = ((i * 17 + d * 3) % 3001 - 1500).astype(
                        np.int16
                    )
                    pcm = np.empty(2 * n, dtype=np.int16)
                    pcm[0::2], pcm[1::2] = left, right
                else:
                    pcm = left
                enc = encode_flac(
                    pcm.tobytes(), rate=16000, channels=ch, block_size=512
                )
                rate, och, bits, out = decode_audio(enc)
                dec = np.frombuffer(out, dtype=np.int16)
                rows.append(
                    (
                        d,
                        len(dec),
                        rate,
                        och,
                        int(dec.astype(np.int64).sum()),
                        len(enc) < len(pcm.tobytes()),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id",
                    "n_samples",
                    "sample_rate",
                    "channels",
                    "pcm_sum",
                    "compressed",
                ],
            )

    return _ckpt_order(docs.mapInPandas(
        run,
        schema=(
            "media_id long, n_samples long, sample_rate int, "
            "channels int, pcm_sum long, compressed boolean"
        ),
    ), "media_id")


def multimodal_mp3_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MPEG-audio (MP3) metadata probing WITHOUT decode: per document a
    structurally valid MPEG-1 Layer III stream is built (real frame
    headers — CBR at 128 kbps for even ids, VBR cycling 64/80/96 for
    odd — behind an ID3v2 preamble of id-derived size), then
    probe_mpeg_audio walks the frame headers and reports frame count,
    duration, byte length, average bitrate, VBR flag and the ID3 skip.
    This is the honest MP3 surface for a corpus pipeline (stats/
    sharding/format audit from pure public header arithmetic, ISO/IEC
    11172-3 §2.4.1); sample DECODE remains the documented env-blocked
    stub.  The oracle replays the frame-length arithmetic
    (144000·kbps//rate per frame) and the duration integer math
    exactly (multimodal.probe_mpeg_audio/build_mpeg_audio)."""
    docs = _t(spark, sf_dir, "documents").select("doc_id")

    def run(batches):
        import pandas as pd

        from adtl_spark.operators.multimodal import (
            build_mpeg_audio,
            probe_mpeg_audio,
        )

        for pdf in batches:
            rows = []
            for d in pdf["doc_id"]:
                d = int(d)
                nf = 40 + d % 17
                rate = (44100, 48000, 32000)[d % 3]
                ch = 1 if d % 3 == 0 else 2
                kbps = (
                    [(64, 80, 96)[f % 3] for f in range(nf)]
                    if d % 2 == 1
                    else [128] * nf
                )
                p = build_mpeg_audio(
                    kbps,
                    rate=rate,
                    channels=ch,
                    id3v2_size=10 + d % 40,
                )
                r = probe_mpeg_audio(p)
                rows.append(
                    (
                        d,
                        r["n_frames"],
                        r["sample_rate"],
                        r["channels"],
                        r["duration_ms"],
                        r["total_bytes"],
                        r["avg_kbps"],
                        r["vbr"],
                        r["id3v2_bytes"],
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id",
                    "n_frames",
                    "sample_rate",
                    "channels",
                    "duration_ms",
                    "total_bytes",
                    "avg_kbps",
                    "vbr",
                    "id3v2_bytes",
                ],
            )

    return _ckpt_order(docs.mapInPandas(
        run,
        schema=(
            "media_id long, n_frames long, sample_rate int, channels int, "
            "duration_ms long, total_bytes long, avg_kbps long, "
            "vbr boolean, id3v2_bytes long"
        ),
    ), "media_id")


def multimodal_id3_tags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ID3v2 metadata extraction value-checked end to end: per document
    a real ID3v2.4 tag (UTF-8 text frames, syncsafe sizes) leads an
    MPEG frame stream; parse_id3v2 recovers title/artist and the probe
    confirms the tag skip.  The oracle rebuilds the strings and the
    byte-accounting arithmetic (tag length = header + per-frame
    10+1+len(text)) directly (multimodal.parse_id3v2/build_id3v2)."""
    docs = _t(spark, sf_dir, "documents").select("doc_id")

    def run(batches):
        import pandas as pd

        from adtl_spark.operators.multimodal import (
            build_id3v2,
            build_mpeg_audio,
            parse_id3v2,
            probe_mpeg_audio,
        )

        for pdf in batches:
            rows = []
            for d in pdf["doc_id"]:
                d = int(d)
                tag = build_id3v2(
                    {"TIT2": f"title-{d}", "TPE1": f"artist-{d % 7}"}
                )
                p = tag + build_mpeg_audio([128] * (3 + d % 5))
                meta = parse_id3v2(p)
                probe = probe_mpeg_audio(p)
                rows.append(
                    (
                        d,
                        meta.get("TIT2"),
                        meta.get("TPE1"),
                        probe["n_frames"],
                        probe["id3v2_bytes"],
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=["media_id", "title", "artist", "n_frames", "id3_bytes"],
            )

    return _ckpt_order(docs.mapInPandas(
        run,
        schema=(
            "media_id long, title string, artist string, "
            "n_frames long, id3_bytes long"
        ),
    ), "media_id")


def multimodal_audio_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak normalization through the FULL codec path: per document the
    FLAC-gate sawtooth (mono) is FLAC-encoded, normalize_audio_peak
    decodes it via the fLaC dispatch and rescales every sample by the
    exact integer rule out = s * 30000 // peak.  The oracle replays the
    signal arithmetic, the peak, and the per-sample floor-scaled sum —
    so the codec decode AND the normalization are sample-exact
    (multimodal.normalize_audio_peak)."""
    docs = _t(spark, sf_dir, "documents").select("doc_id")

    def build(batches):
        import numpy as np
        import pandas as pd

        from adtl_spark.operators.flac_lite import encode_flac

        for pdf in batches:
            rows = []
            for d in pdf["doc_id"]:
                d = int(d)
                n = 300 * (1 + d % 3) + (d % 53)
                i = np.arange(n, dtype=np.int64)
                sig = ((i * (13 + d % 7) + d) % 4001 - 2000).astype(np.int16)
                rows.append(
                    (d, encode_flac(sig.tobytes(), rate=16000, block_size=512))
                )
            yield pd.DataFrame(rows, columns=["media_id", "payload"])

    from adtl_spark.operators.multimodal import normalize_audio_peak

    media = docs.mapInPandas(build, schema="media_id long, payload binary")
    out = normalize_audio_peak(media, target_peak=30000)
    return _ckpt_order(out.select("media_id", "peak", "n_samples", "pcm_sum"), 
        "media_id"
    )


def multimodal_video_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Executed video frame sampling value-checked end to end: per
    document a reference-container video (4-8 arith P6 frames at 4 fps,
    frame f seeded doc_id*7+f) is sampled every 500 ms —
    duration-derived schedule, frame index ts*fps//1000 — and every
    SAMPLED frame decodes through the image pixel-stats path under the
    composite key doc_id*1000+frame_idx.  The oracle replays the
    schedule arithmetic and each sampled frame's per-pixel stats via
    generate_series (multimodal.sample_video_frames)."""
    from adtl_spark.operators import multimodal as M

    docs = _t(spark, sf_dir, "documents").select("doc_id")

    def build(batches):
        import pandas as pd

        for pdf in batches:
            rows = []
            for i in pdf["doc_id"]:
                i = int(i)
                nf = 4 + i % 5
                w, h = 8 + i % 6, 8 + (i * 3) % 5
                frames = [
                    M.synthetic_ppm_arith(w, h, seed=i * 7 + f)
                    for f in range(nf)
                ]
                rows.append((i, M.encode_video(frames, fps=4)))
            yield pd.DataFrame(rows, columns=["media_id", "payload"])

    media = docs.mapInPandas(build, schema="media_id long, payload binary")
    sampled = M.sample_video_frames(media, every_ms=500).select(
        (F.col("media_id") * 1000 + F.col("frame_idx")).alias("media_id"),
        "payload",
    )
    return _ckpt_order(M.image_pixel_stats(sampled), "media_id")


def multimodal_video_frames_avi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling over a REAL video container: per document an
    MJPEG-in-AVI file (4-8 smooth-gradient frames, JPEG-encoded by the
    in-repo codec, muxed by multimodal.mux_avi_mjpeg into the standard
    RIFF hdrl/movi/idx1 layout) is sampled every 500 ms by the SAME
    sample_video_frames operator the reference-container gate uses —
    the AVI route walks the movi chunk list once, decodes each sampled
    frame through jpeg_lite, and emits P6.  Each sampled frame is then
    verified against the expected per-frame gradient (frames differ by
    a per-index brightness step, so sampling the WRONG frame index
    flips the bound).  JPEG is lossy, so the oracle value-checks the
    schedule arithmetic and dimensions exactly and pins the
    reconstruction bound (measured max |err| = 1 on these gradients;
    bound 3) as the invariant — the multimodal_jpeg_roundtrip contract
    applied to a container a user actually has."""
    from adtl_spark.operators import multimodal as M

    docs = _t(spark, sf_dir, "documents").select("doc_id")

    def build(batches):
        import numpy as np
        import pandas as pd

        from adtl_spark.operators.jpeg_lite import encode_jpeg

        for pdf in batches:
            rows = []
            for i in pdf["doc_id"]:
                i = int(i)
                nf = 4 + i % 5
                w, h = 16 + (i * 3) % 17, 16 + (i * 5) % 13
                a, b = 1 + i % 2, 1 + (i // 2) % 2
                x = np.arange(w)[None, :, None]
                y = np.arange(h)[:, None, None]
                c = np.arange(3)[None, None, :]
                frames = [
                    encode_jpeg(
                        w,
                        h,
                        (x * a + y * b + c * 17 + f * 5)
                        .astype(np.uint8)
                        .tobytes(),
                        quality=92,
                        subsampling="444",
                    )
                    for f in range(nf)
                ]
                rows.append((i, M.mux_avi_mjpeg(frames, 4, w, h)))
            yield pd.DataFrame(rows, columns=["media_id", "payload"])

    media = docs.mapInPandas(build, schema="media_id long, payload binary")
    sampled = M.sample_video_frames(media, every_ms=500)

    def check(batches):
        import numpy as np
        import pandas as pd

        from adtl_spark.operators.multimodal import decode_image

        for pdf in batches:
            rows = []
            for mid, fi, ts, payload in zip(
                pdf["media_id"], pdf["frame_idx"], pdf["ts_ms"], pdf["payload"]
            ):
                i, fi = int(mid), int(fi)
                w, h, rgb = decode_image(bytes(payload))
                a, b = 1 + i % 2, 1 + (i // 2) % 2
                x = np.arange(w)[None, :, None]
                y = np.arange(h)[:, None, None]
                c = np.arange(3)[None, None, :]
                want = (x * a + y * b + c * 17 + fi * 5).astype(np.uint8)
                err = int(
                    np.abs(
                        np.frombuffer(rgb, dtype=np.uint8).astype(int)
                        - want.reshape(-1).astype(int)
                    ).max()
                )
                rows.append((i, fi, int(ts), w, h, err <= 3))
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id", "frame_idx", "ts_ms", "width", "height", "ok",
                ],
            )

    return _ckpt_order(sampled.mapInPandas(
        check,
        schema=(
            "media_id long, frame_idx long, ts_ms long, "
            "width long, height long, ok boolean"
        ),
    ), "media_id", "frame_idx")


def multimodal_avi_soundtrack_vad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full real-container multimodal combo: per document an AVI
    carrying BOTH an MJPEG video track and an interleaved 16-bit PCM
    soundtrack (gated arithmetic samples — every third 320-block silent,
    ragged tails) is demuxed on the audio side (multimodal.
    decode_avi_audio — '01wb' chunk concatenation + WAVEFORMATEX facts),
    rewrapped (pcm_to_wav), and endpointed by the SAME audio_vad_trim
    the plain-WAV gate uses.  The oracle replays sample generation, the
    silence gate, framing, threshold and span via generate_series —
    identical arithmetic to multimodal_audio_vad, so any corruption in
    the interleave, chunk walk, or rewrap breaks the hash."""
    from adtl_spark.operators import multimodal as M

    docs = _t(spark, sf_dir, "documents").select("doc_id")

    def build(batches):
        import pandas as pd

        for pdf in batches:
            rows = []
            for i in pdf["doc_id"]:
                i = int(i)
                n = 320 * (2 + i % 8) + (i % 5)
                wav = M.synthetic_wav_arith_gated(n, seed=i)
                _r, _c, _b, pcm = M.decode_wav(wav)
                frames = [
                    M.synthetic_ppm_arith(8, 8, seed=i * 3 + f)
                    for f in range(2)
                ]
                rows.append(
                    (i, M.mux_avi_mjpeg(frames, 4, 8, 8, audio=(16000, pcm)))
                )
            yield pd.DataFrame(rows, columns=["media_id", "payload"])

    media = docs.mapInPandas(build, schema="media_id long, payload binary")

    def demux(batches):
        import pandas as pd

        for pdf in batches:
            rows = []
            for mid, b in zip(pdf["media_id"], pdf["payload"]):
                rate, ch, bits, pcm = M.decode_avi_audio(bytes(b))
                rows.append((int(mid), M.pcm_to_wav(rate, ch, bits, pcm)))
            yield pd.DataFrame(rows, columns=["media_id", "payload"])

    audio = media.mapInPandas(demux, schema="media_id long, payload binary")
    return _ckpt_order(M.audio_vad_trim(audio), "media_id")


def web_tar_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WebDataset-style tar-shard ingestion value-checked end to end:
    documents pack into in-memory tar shards (one per 64 consecutive
    ids, members named ``<doc_id>.txt``, deterministic mtime-0 layout)
    via applyInPandas, then the ingestion path — sources.io.
    read_tar_members — explodes the shards back into member rows whose
    payload must be the original text byte-for-byte.  The oracle is the
    identity over ``documents`` (plus strlen byte length for the member
    size), so any corruption in the tar build or the member walk breaks
    the hash."""
    from adtl_spark.sources.io import read_tar_members

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    grouped = docs.withColumn("__f", F.floor(F.col("doc_id") / 64))

    def build_tar(pdf):
        import io as _io
        import tarfile

        import pandas as pd

        buf = _io.BytesIO()
        with tarfile.open(fileobj=buf, mode="w") as tf:
            for _, r in pdf.sort_values("doc_id").iterrows():
                data = str(r["text"]).encode("utf-8")
                info = tarfile.TarInfo(name=f"{int(r['doc_id']):012d}.txt")
                info.size = len(data)
                info.mtime = 0
                tf.addfile(info, _io.BytesIO(data))
        return pd.DataFrame(
            {
                "path": [f"shard-{int(pdf['__f'].iloc[0]):05d}.tar"],
                "content": [buf.getvalue()],
            }
        )

    archives = grouped.groupBy("__f").applyInPandas(
        build_tar, "path string, content binary"
    )
    members = read_tar_members(archives)
    return _ckpt_order(members.select(
            F.regexp_extract("member", r"(\d+)\.txt$", 1)
            .cast("long")
            .alias("doc_id"),
            F.decode(F.col("payload"), "UTF-8").alias("text"),
            F.col("size").cast("long").alias("n_bytes"),
        ), "doc_id")


def multimodal_image_dhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual image dedup via dHash, value-checked end to end: 40
    distinct arithmetic textures (seed = doc_id % 40, dims from the
    seed) are replicated across the corpus, decoded, hashed on the 9x8
    grayscale difference grid, and grouped — every copy of a texture
    must land in one cluster with exact n_copies and the min-id
    canonical.  The hash is integer arithmetic all the way (unnormalized
    299/587/114 grayscale, floor sample grid, two BIGINT halves), so
    the oracle replays every BIT per seed via generate_series and then
    reproduces the cluster table (multimodal.image_dhash)."""
    from adtl_spark.operators import multimodal as M

    docs = _t(spark, sf_dir, "documents").select("doc_id")

    def build(batches):
        import pandas as pd

        for pdf in batches:
            rows = []
            for i in pdf["doc_id"]:
                i = int(i)
                seed = i % 40
                w, h = 16 + seed % 9, 16 + (seed * 3) % 7
                rows.append((i, M.synthetic_ppm_arith(w, h, seed=seed)))
            yield pd.DataFrame(rows, columns=["media_id", "payload"])

    media = docs.mapInPandas(build, schema="media_id long, payload binary")
    return (
        M.image_dhash(media)
        .groupBy("dhash_hi", "dhash_lo")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_copies"),
            F.min("media_id").cast("long").alias("canonical_id"),
        )
        .orderBy("canonical_id")
    )


def multimodal_audio_vad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Energy-threshold voice-activity trimming value-checked end to
    end: gated arithmetic PCM (every third 320-sample block silent —
    leading silence by construction, ragged non-frame-aligned tails) is
    decoded and endpointed; the oracle replays sample generation, the
    silence gate, 160-sample framing with tail drop, the integer
    energy threshold, and the first/last-active span via
    generate_series (multimodal.audio_vad_trim)."""
    from adtl_spark.operators import multimodal as M

    docs = _t(spark, sf_dir, "documents").select("doc_id")

    def build(batches):
        import pandas as pd

        for pdf in batches:
            rows = []
            for i in pdf["doc_id"]:
                i = int(i)
                n = 320 * (2 + i % 9) + (i % 7)
                rows.append((i, M.synthetic_wav_arith_gated(n, seed=i)))
            yield pd.DataFrame(rows, columns=["media_id", "payload"])

    media = docs.mapInPandas(build, schema="media_id long, payload binary")
    return _ckpt_order(M.audio_vad_trim(media), "media_id")


def multimodal_jpeg_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The baseline-JPEG codec (operators/jpeg_lite.py) exercised end to
    end: per document a smooth gradient image (dims and slopes from id
    arithmetic) is encoded — 4:4:4 for even ids, 4:2:0 (multi-block MCUs
    + chroma upsample) for odd — then decoded, and the reconstruction
    error measured.  JPEG is lossy, so the float-DCT pipeline has no
    SQL replay: the oracle value-checks the DIMENSIONS exactly and pins
    the per-image error bound (max |out-in| <= 3 on smooth gradients at
    q92) as the expected invariant — any codec regression flips the
    boolean and fails the hash.  The exact-arithmetic decode paths stay
    on the PPM/PNG gates; the DC-only path is additionally pinned
    byte-exact by a hand-built stream in tests/test_round10.py."""
    docs = _t(spark, sf_dir, "documents").select("doc_id")

    def run(batches):
        import numpy as np
        import pandas as pd

        from adtl_spark.operators.jpeg_lite import decode_jpeg, encode_jpeg

        for pdf in batches:
            rows = []
            for i in pdf["doc_id"]:
                i = int(i)
                w, h = 16 + (i * 3) % 17, 16 + (i * 5) % 13
                # slopes sized so the ramp never saturates (max value
                # 32*3 + 28*3 + 34 = 214 < 255): a clamp kink is a hard
                # edge the DCT rings against, which would make the bound
                # a function of where the kink lands instead of codec
                # health (measured: 13 with clamping, 1 without)
                a = 1 + i % 3
                b = 1 + (i * 2) % 3
                x = np.arange(w)[None, :, None]
                y = np.arange(h)[:, None, None]
                c = np.arange(3)[None, None, :]
                img = (x * a + y * b + c * 17).astype(np.uint8)
                payload = encode_jpeg(
                    w,
                    h,
                    img.tobytes(),
                    quality=92,
                    subsampling="444" if i % 2 == 0 else "420",
                )
                dw, dh, out = decode_jpeg(payload)
                err = int(
                    np.abs(
                        np.frombuffer(out, dtype=np.uint8).astype(int)
                        - img.reshape(-1).astype(int)
                    ).max()
                )
                rows.append((i, dw, dh, err <= 3))
            yield pd.DataFrame(
                rows, columns=["media_id", "width", "height", "ok"]
            )

    return _ckpt_order(docs.mapInPandas(
        run, schema="media_id long, width long, height long, ok boolean"
    ), "media_id")


def multimodal_jpeg_progressive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Progressive JPEG (SOF2) decode value-checked against the
    baseline decode OF THE SAME PIXELS: per document a deterministic
    noisy image (byte j = (seed*31 + j*131) % 256 — maximal AC energy,
    every refinement path exercised) is encoded BOTH ways at the same
    quality — 4:4:4 on even ids, 4:2:0 on odd (multi-block interleaved
    DC MCUs over the padded grid + true-grid AC scans, the dominant web
    progressive layout); encode_jpeg_progressive quantizes identically to
    encode_jpeg, so the progressive decode must be BYTE-EXACT equal to
    the baseline decode (``exact``), and the corpus blur screen's
    integer L1-Laplacian statistic must agree between the two decodes
    (``sharp_match`` — the same grayscale/interior-pixel arithmetic as
    operators/multimodal.py:image_sharpness; the OPERATOR-path
    acceptance of progressive payloads through decode_image dispatch
    is pinned by tests/test_round14.py).  One linear mapInPandas — no
    joins, no payload re-execution.  The oracle pins dims from id
    arithmetic and both booleans TRUE (operators/jpeg_lite.py:
    _ProgressiveState, encode_jpeg_progressive)."""
    from adtl_spark.operators import multimodal as M

    docs = _t(spark, sf_dir, "documents").select("doc_id")

    def run(batches):
        import numpy as np
        import pandas as pd

        from adtl_spark.operators.jpeg_lite import (
            encode_jpeg,
            encode_jpeg_progressive,
        )

        def lap_stats(w, h, rgb):
            a = np.frombuffer(rgb, dtype=np.uint8).reshape(h, w, 3)
            g = (
                a[:, :, 0].astype(np.int64) * 299
                + a[:, :, 1] * 587
                + a[:, :, 2] * 114
            )
            lap = np.abs(
                4 * g[1:-1, 1:-1] - g[:-2, 1:-1] - g[2:, 1:-1]
                - g[1:-1, :-2] - g[1:-1, 2:]
            )
            return lap.size, int(lap.sum())

        for pdf in batches:
            rows = []
            for d in pdf["doc_id"]:
                d = int(d)
                w, h = 12 + d % 13, 10 + (d * 3) % 11
                seed = d * 7 + 3
                j = np.arange(w * h * 3, dtype=np.int64)
                img = ((seed * 31 + j * 131) % 256).astype(np.uint8).tobytes()
                ss = "444" if d % 2 == 0 else "420"
                base = encode_jpeg(w, h, img, quality=88, subsampling=ss)
                prog = encode_jpeg_progressive(
                    w, h, img, quality=88, subsampling=ss
                )
                db = M.decode_image(base)
                dp = M.decode_image(prog)
                rows.append(
                    (d, dp[0], dp[1], db == dp,
                     lap_stats(*db) == lap_stats(*dp))
                )
            yield pd.DataFrame(
                rows,
                columns=["media_id", "width", "height", "exact",
                         "sharp_match"],
            )

    return _ckpt_order(
        docs.mapInPandas(
            run,
            schema=(
                "media_id long, width long, height long, exact boolean, "
                "sharp_match boolean"
            ),
        ),
        "media_id",
    )


def multimodal_mp2_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MPEG-1 Layer II decode value-checked end to end: per document a
    sine fixture (frequency/amplitude from id arithmetic) is encoded
    to real Layer-II frames — even ids mono at 320 kbit/s, odd ids
    stereo at 384 (half-amplitude right channel) — and decoded back
    through the FULL decode_audio dispatch (MPEG sync sniff -> mp3
    registry key -> native mp2_lite Layer I/II path).  Signal features
    pin fidelity: zero-crossing count of the steady-state midsection
    recovers the tone frequency (``freq_ok``) and the RMS matches
    amp/sqrt(2) within 8% (``rms_ok``) — the polyphase synthesis,
    scalefactors and dequantization all sit in that path, so a codec
    regression flips a boolean.  Dims/rates are exact oracle
    arithmetic (operators/mp2_lite.py: decode_mpeg_audio, encode_mp2)."""
    from adtl_spark.operators import multimodal as M

    docs = _t(spark, sf_dir, "documents").select("doc_id")

    def run(batches):
        import numpy as np
        import pandas as pd

        from adtl_spark.operators.mp2_lite import encode_mp2

        rate = 48000
        n = 2 * 1152
        t = np.arange(n)
        for pdf in batches:
            rows = []
            for d in pdf["doc_id"]:
                d = int(d)
                freq = 400 * (1 + d % 8)
                amp = 0.4 + 0.01 * (d % 10)
                x = amp * np.sin(2 * np.pi * freq * t / rate)
                pcm = np.round(x * 32767).astype("<i2")
                if d % 2 == 0:
                    payload = encode_mp2(pcm.tobytes(), channels=1, kbps=320)
                else:
                    st = np.stack([pcm, pcm // 2], axis=1).reshape(-1)
                    payload = encode_mp2(st.tobytes(), channels=2, kbps=384)
                r, ch, _bits, out = M.decode_audio(payload)
                y = np.frombuffer(out, "<i2").astype(np.float64)
                y0 = y.reshape(-1, ch)[:, 0]
                mid = y0[600:1800]
                # zero-crossing count, exact zeros excluded (the decode
                # is clean enough to hit 0 exactly at crossings)
                nz = mid[mid != 0]
                crossings = int(np.sum(nz[1:] * nz[:-1] < 0))
                expect = 2 * freq * len(mid) / rate
                freq_ok = abs(crossings - expect) <= 4
                rms = float(np.sqrt(np.mean(mid**2)))
                want = amp * 32767 / np.sqrt(2.0)
                # stereo runs the leaner mid allocation ladder (384
                # kbit/s over two channels), so its quantization noise
                # budget is wider
                tol = 0.06 if d % 2 == 0 else 0.12
                rms_ok = abs(rms - want) <= tol * want
                rows.append(
                    (d, r, ch, len(y) // ch, bool(freq_ok), bool(rms_ok))
                )
            yield pd.DataFrame(
                rows,
                columns=["media_id", "sample_rate", "channels",
                         "n_samples", "freq_ok", "rms_ok"],
            )

    return _ckpt_order(docs.mapInPandas(
        run,
        schema=(
            "media_id long, sample_rate int, channels int, "
            "n_samples long, freq_ok boolean, rms_ok boolean"
        ),
    ), "media_id")


def doc_pdf_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simple-font /Encoding extraction — the pre-ToUnicode layout
    older generators emit, where single-byte codes mean whatever the
    font's base encoding + /Differences say: per document a WinAnsi
    file is written whose final page carries BYTE-coded text (cp1252
    smart quotes, Euro, em dash) plus /Differences remappings (an AGL
    table name and a uniXXXX algorithmic name), so extraction through
    the latin-1 assumption would produce mojibake, not the oracle's
    exact string.  ASCII slice pages ride along to pin that the
    WinAnsi table is latin-1-identical over the printable ASCII run
    (operators/pdf_lite.py: _simple_font_map, _glyph_to_unicode,
    _base_encoding_map)."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")

    def run(batches):
        import pandas as pd

        from adtl_spark.operators.pdf_lite import build_pdf, pdf_pages

        tail = b"caf\xc0 \xc1 \x93ok\x94 \x80\x97"
        for pdf in batches:
            rows = []
            for d, t in zip(pdf["doc_id"], pdf["text"]):
                d = int(d)
                t = t or ""
                np_ = 1 + d % 2
                pages = []
                for p in range(np_):
                    sl = t[40 * p : 40 * p + 40]
                    pages.append(
                        ["".join(ch for ch in sl if " " <= ch <= "~")]
                    )
                pages.append([tail])  # byte-coded specials page
                payload = build_pdf(
                    pages,
                    base_encoding="WinAnsiEncoding",
                    differences=[0xC0, "eacute", "uni2603"],
                )
                got = pdf_pages(payload)
                text = "\n".join(got)
                rows.append((d, len(got), text, len(text)))
            yield pd.DataFrame(
                rows, columns=["doc_id", "n_pages", "text", "n_chars"]
            )

    return _ckpt_order(docs.mapInPandas(
        run,
        schema="doc_id long, n_pages long, text string, n_chars long",
    ), "doc_id")


def doc_pdf_cid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CID-keyed Type0 font extraction — the embedded-subset layout
    every real generator emits, where content-stream bytes are GLYPH
    CODES and extraction is impossible without the /ToUnicode CMap:
    per document a real Identity-H Type0 file is written whose codes
    are deliberately NOT the Unicode values (shifted-ASCII bfrange,
    bfchar specials incl. a multi-codepoint 'fi' ligature expansion,
    array-form bfrange daggers — a reader that skips the CMap
    extracts garbage, not accidentally-right text), and the page walk
    + font resolution + CMap decode must reproduce the source slices
    exactly.  The oracle rebuilds the ASCII-sanitized page slices and
    the specials line with substr/regexp arithmetic
    (operators/pdf_lite.py: build_pdf_cid, _parse_tounicode,
    _page_fonts, _decode_shown)."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")

    def run(batches):
        import pandas as pd

        from adtl_spark.operators.pdf_lite import build_pdf_cid, pdf_pages

        for pdf in batches:
            rows = []
            for d, t in zip(pdf["doc_id"], pdf["text"]):
                d = int(d)
                t = t or ""
                np_ = 1 + d % 2
                pages = []
                for p in range(np_):
                    sl = t[40 * p : 40 * p + 40]
                    pages.append(
                        ["".join(ch for ch in sl if " " <= ch <= "~")]
                    )
                pages.append(["é fi †‡• marks"])  # the CMap specials page
                payload = build_pdf_cid(pages)
                got = pdf_pages(payload)
                text = "\n".join(got)
                rows.append((d, len(got), text, len(text)))
            yield pd.DataFrame(
                rows, columns=["doc_id", "n_pages", "text", "n_chars"]
            )

    return _ckpt_order(docs.mapInPandas(
        run,
        schema="doc_id long, n_pages long, text string, n_chars long",
    ), "doc_id")


def doc_pdf_encrypted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ENCRYPTED-PDF ingestion — the standard-security-handler,
    empty-user-password class that dominates "encrypted" PDFs on the
    open web (permissions-restricted files every reader opens without
    prompting): per document a real encrypted file is written with the
    handler cycling by id — V1/R2 RC4-40, V2/R3 RC4-128, V4/R4
    /AESV2 AES-128-CBC — with spec-computed /O and /U entries, and the
    extraction path runs the full chain: /Encrypt dict parse, empty-
    password validation (Algorithm 6), per-object key derivation
    (Algorithm 1), stream decrypt-then-inflate, page walk, content
    lexing.  AES-256 (V5/R6) also decodes but stays OUT of this gate's
    cycle by design: its Algorithm-2.B KDF is a deliberate
    password-hardening function (~0.4 s/hash even on the T-table fast
    path — per FILE, not per stream), so it is pytest-pinned
    (tests/test_round15.py::test_encrypted_pdf_aes256_r6) instead of
    multiplied across 500 fixture docs.  The oracle rebuilds the page
    slices with substr arithmetic, so decrypt→extract must be an exact
    identity (operators/pdf_crypt.py; pdf_lite._parse_encrypt,
    build_pdf_encrypted)."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")

    def run(batches):
        import pandas as pd

        from adtl_spark.operators.pdf_lite import (
            build_pdf_encrypted,
            pdf_pages,
        )

        methods = ["rc4-40", "rc4", "aesv2"]
        for pdf in batches:
            rows = []
            for d, t in zip(pdf["doc_id"], pdf["text"]):
                d = int(d)
                t = t or ""
                np_ = 1 + d % 2
                pages = [[t[48 * p : 48 * p + 48]] for p in range(np_)]
                method = methods[d % 3]
                payload = build_pdf_encrypted(pages, method=method)
                got = pdf_pages(payload)
                text = "\n".join(got)
                rows.append((d, len(got), text, len(text), method))
            yield pd.DataFrame(
                rows,
                columns=["doc_id", "n_pages", "text", "n_chars", "method"],
            )

    return _ckpt_order(docs.mapInPandas(
        run,
        schema=(
            "doc_id long, n_pages long, text string, n_chars long, "
            "method string"
        ),
    ), "doc_id")


def multimodal_mp2_lsf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MPEG-2 LSF and MPEG-1 LOW-RATE Layer II decode value-checked end
    to end — the two allocation-table families the round-14 codec
    scoped out: per document a sine fixture cycles through (id % 4)
    MPEG-2 LSF 24 kHz mono 96 kbit/s, LSF 16 kHz stereo 64 kbit/s
    (both ISO 13818-3 Table B.1), MPEG-1 48 kHz mono 48 kbit/s (Table
    3-B.2c — <= 48 kbit/s per channel), and MPEG-1 32 kHz stereo
    96 kbit/s (48 kbit/s per channel -> Table 3-B.2d), encoded to real
    frames and decoded through the full decode_audio dispatch.
    Zero-crossing frequency recovery (``freq_ok``) and RMS fidelity
    (``rms_ok``) pin the whole chain — header version bits, the
    (sample_rate, bitrate-class) table selection, grouped low-rate
    quantizers, and the polyphase synthesis at halved rates
    (operators/mp2_lite.py: _alloc_table, _parse_header, encode_mp2)."""
    from adtl_spark.operators import multimodal as M

    docs = _t(spark, sf_dir, "documents").select("doc_id")

    def run(batches):
        import numpy as np
        import pandas as pd

        from adtl_spark.operators.mp2_lite import encode_mp2

        cfg = [
            (24000, 1, 96),   # MPEG-2 LSF mono
            (16000, 2, 64),   # MPEG-2 LSF stereo (32 kbit/s per ch)
            (48000, 1, 48),   # MPEG-1 low-rate, Table 3-B.2c
            (32000, 2, 96),   # MPEG-1 low-rate, Table 3-B.2d
        ]
        n = 2 * 1152
        t = np.arange(n)
        for pdf in batches:
            rows = []
            for d in pdf["doc_id"]:
                d = int(d)
                rate, ch, kbps = cfg[d % 4]
                # tones stay inside the lowest three subbands (< 3 *
                # rate/64) so every budget-feasible allocation covers them
                freq = 100 * (1 + d % 6)
                amp = 0.4 + 0.01 * (d % 10)
                x = amp * np.sin(2 * np.pi * freq * t / rate)
                pcm = np.round(x * 32767).astype("<i2")
                if ch == 2:
                    pcm = np.stack([pcm, pcm // 2], axis=1).reshape(-1)
                payload = encode_mp2(
                    pcm.tobytes(), rate=rate, channels=ch, kbps=kbps
                )
                r, c, _bits, out = M.decode_audio(payload)
                y = np.frombuffer(out, "<i2").astype(np.float64)
                y0 = y.reshape(-1, c)[:, 0]
                mid = y0[600:1800]
                nz = mid[mid != 0]
                crossings = int(np.sum(nz[1:] * nz[:-1] < 0))
                expect = 2 * freq * len(mid) / rate
                freq_ok = abs(crossings - expect) <= 6
                rms = float(np.sqrt(np.mean(mid**2)))
                want = amp * 32767 / np.sqrt(2.0)
                # the coarse low-rate quantizers widen the noise
                # budget; the stereo classes run 3-5-step midtread
                # ladders whose peak-clamp bias is deterministic
                # (worst measured: 0.06 / 0.17 / 0.11 / 0.08 by class)
                tol = (0.12, 0.25, 0.20, 0.25)[d % 4]
                rms_ok = abs(rms - want) <= tol * want
                rows.append(
                    (d, r, c, len(y) // c, bool(freq_ok), bool(rms_ok))
                )
            yield pd.DataFrame(
                rows,
                columns=["media_id", "sample_rate", "channels",
                         "n_samples", "freq_ok", "rms_ok"],
            )

    return _ckpt_order(docs.mapInPandas(
        run,
        schema=(
            "media_id long, sample_rate int, channels int, "
            "n_samples long, freq_ok boolean, rms_ok boolean"
        ),
    ), "media_id")


def multimodal_jpeg_411(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chroma-subsampled JPEG beyond h/v=2 value-checked the same way
    the progressive gate is: per document a deterministic noisy image
    is encoded BOTH baseline and progressive at the same quality with
    4:1:1 chroma on even ids (h=4 luma, 32x8 MCUs — common camera
    output, the decoder's 4x horizontal upsample) and 4:2:2 on odd
    (h=2/v=1), and the two decodes must be BYTE-EXACT equal (identical
    quantization by construction) with the blur screen's integer
    L1-Laplacian statistic agreeing.  The oracle pins dims from id
    arithmetic and both booleans TRUE (operators/jpeg_lite.py:
    _subsample_planes, _assemble_planes; SOF-time sampling
    validation)."""
    from adtl_spark.operators import multimodal as M

    docs = _t(spark, sf_dir, "documents").select("doc_id")

    def run(batches):
        import numpy as np
        import pandas as pd

        from adtl_spark.operators.jpeg_lite import (
            encode_jpeg,
            encode_jpeg_progressive,
        )

        def lap_stats(w, h, rgb):
            a = np.frombuffer(rgb, dtype=np.uint8).reshape(h, w, 3)
            g = (
                a[:, :, 0].astype(np.int64) * 299
                + a[:, :, 1] * 587
                + a[:, :, 2] * 114
            )
            lap = np.abs(
                4 * g[1:-1, 1:-1] - g[:-2, 1:-1] - g[2:, 1:-1]
                - g[1:-1, :-2] - g[1:-1, 2:]
            )
            return lap.size, int(lap.sum())

        for pdf in batches:
            rows = []
            for d in pdf["doc_id"]:
                d = int(d)
                w, h = 14 + d % 11, 9 + (d * 5) % 13
                seed = d * 13 + 5
                j = np.arange(w * h * 3, dtype=np.int64)
                img = ((seed * 37 + j * 149) % 256).astype(np.uint8).tobytes()
                ss = "411" if d % 2 == 0 else "422"
                base = encode_jpeg(w, h, img, quality=86, subsampling=ss)
                prog = encode_jpeg_progressive(
                    w, h, img, quality=86, subsampling=ss
                )
                db = M.decode_image(base)
                dp = M.decode_image(prog)
                rows.append(
                    (d, db[0], db[1], db == dp,
                     lap_stats(*db) == lap_stats(*dp))
                )
            yield pd.DataFrame(
                rows,
                columns=["media_id", "width", "height", "exact",
                         "sharp_match"],
            )

    return _ckpt_order(
        docs.mapInPandas(
            run,
            schema=(
                "media_id long, width long, height long, exact boolean, "
                "sharp_match boolean"
            ),
        ),
        "media_id",
    )


def web_frontier_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AUTO-mode politeness scheduling — the banding decision made from
    the data: the fixture's host distribution is deliberately skewed
    (every third id on one host — far past the max-host-count >
    total/n_bands threshold), so ``banded_numbering="auto"`` must
    profile the frontier, switch to the banded plan, and still produce
    fetch plans EXACTLY equal to the plain window's SQL semantics (the
    oracle replays the one-window row_number).  The below-threshold
    side — auto staying on the plain window with identical values — is
    pinned by pytest (operators/text.py: schedule_frontier
    banded_numbering='auto')."""
    from adtl_spark.operators.text import schedule_frontier

    d = F.col("doc_id")
    host_k = F.when(d % 3 == 0, F.lit(0)).otherwise(1 + d % 7)
    urls = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.lit("http://h"), host_k.cast("string"),
            F.lit(".test/p/"), d.cast("string"),
        ).alias("url"),
    )
    delays = spark.createDataFrame(
        [("h0.test", 200), ("h3.test", 650)], "host string, delay_ms long"
    )
    return (
        schedule_frontier(
            urls, delays, default_delay_ms=1100,
            banded_numbering="auto", n_bands=48,
        )
        .select("doc_id", "host", "fetch_seq", "fetch_after_ms")
        .orderBy("doc_id")
    )


# Boilerplate paragraphs for the paragraph-dedup gate page construction:
# one on every page, one on every even-id page (so the gate exercises both
# corpus-wide and partial boilerplate at different document frequencies).
_PD_BOILER_ALL = "subscribe to our newsletter for updates"
_PD_BOILER_EVEN = "copyright 2024 example corp all rights reserved"


def text_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style repeated-paragraph removal value-checked end to end:
    each document becomes a page of [its own text, a corpus-wide
    boilerplate paragraph, (even ids) a second half-corpus boilerplate];
    paragraph_dedup(min_df=2) must strip both boilerplates everywhere
    AND any document text that repeats verbatim across documents (the
    synthetic corpus is near-dup heavy by design), reassembling
    survivors in original order.  The oracle replays split -> distinct-
    document frequency -> threshold -> ordered reassembly
    (dedup.paragraph_dedup_oracle_sql)."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    page = F.concat(
        F.col("text"),
        F.lit("\n\n" + _PD_BOILER_ALL),
        F.when(
            F.col("doc_id") % 2 == 0, F.lit("\n\n" + _PD_BOILER_EVEN)
        ).otherwise(F.lit("")),
    )
    pages = docs.select("doc_id", page.alias("text"))
    return D.paragraph_dedup(pages, min_df=2).orderBy("doc_id")


def web_url_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-pipeline URL canonicalization: messy absolute URLs built
    from the documents table (uppercase scheme+host, a default :80 /
    non-default :8080 / absent port split by id, duplicate path slashes,
    unsorted query params, a fragment) normalized to the canonical
    dedup/aggregation key plus the per-host partition key.  The oracle
    replays the identical regex chain (text.normalize_url_expr_sql) —
    path case must be PRESERVED while scheme/host lowercase, :80 must
    strip while :8080 survives, the query must come back sorted, a
    query-LESS URL must survive (the DuckDB empty-list-to-NULL trap),
    and a '?' living only inside the fragment must NOT parse as a
    query."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "source")
    port = (
        F.when(F.col("doc_id") % 3 == 0, F.lit(":80"))
        .when(F.col("doc_id") % 3 == 1, F.lit(":8080"))
        .otherwise(F.lit(""))
    )
    tail = (
        F.when(F.col("doc_id") % 4 == 0, F.lit("#frag"))
        .when(F.col("doc_id") % 4 == 1, F.lit("#sec?x=1"))
        .otherwise(
            F.concat(F.lit("?z=1&a=2&m="), F.col("lang"), F.lit("#frag"))
        )
    )
    url = F.concat(
        F.lit("HTTP://WWW.Example-"),
        F.col("source"),
        F.lit(".COM"),
        port,
        F.lit("//A/b//c/"),
        F.col("doc_id").cast("string"),
        tail,
    )
    return docs.select(
        "doc_id",
        X.normalize_url(url).alias("url_norm"),
        X.url_host(url).alias("host"),
    ).orderBy("doc_id")


def text_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed n-gram containment pairs (|src AND dst| / |src| >= 0.6):
    catches one document quoting or embedding another even when symmetric
    Jaccard is low.  One-sided PPJoin prefix blocking keeps it
    sub-quadratic; the oracle runs the naive capped self-join
    (dedup.containment_pairs)."""
    docs = _t(spark, sf_dir, "documents")
    return D.containment_pairs(docs, threshold=0.6, n=3)


def quality_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov drift statistic between the even-
    and odd-doc snapshots over document length — the location-sensitive
    complement of quality_psi_drift (no bucketing choice; the max CDF gap
    and where it occurs).  Exact-integer CDF counts, correctly-rounded
    divisions, 1e-6 quantization (operators/monitor.ks_drift)."""
    docs = _t(spark, sf_dir, "documents")
    return MO.ks_drift(
        docs.filter(F.col("doc_id") % 2 == 0),
        docs.filter(F.col("doc_id") % 2 == 1),
        F.col("n_chars"),
        max_points=100_000,
    )


def graph_entity_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end entity resolution over supplier names: SymSpell
    deletion-neighborhood fuzzy matching (operators/fuzzy.py) refined by
    a nation blocking key (matches must agree on s_nationkey — the
    standard ER block-then-compare shape; sequential TPC-H names would
    otherwise chain every supplier into one entity via levenshtein-1
    steps), then pointer-jumping connected components
    (dedup.cluster_pairs); every supplier — singletons included — lands
    in an entity labeled by its smallest member id.  The oracle replays
    the pipeline as naive quadratic blocked levenshtein pairs + a
    recursive-CTE closure (fuzzy.entity_resolution_oracle_sql)."""
    sup = _t(spark, sf_dir, "supplier")
    raw_pairs = FZ.fuzzy_pairs(sup, "s_suppkey", "s_name", max_dist=1).select(
        "id_a", "id_b"
    )
    nk = sup.select(
        F.col("s_suppkey").cast("long").alias("id"),
        F.col("s_nationkey").alias("nk"),
    )
    pairs = (
        raw_pairs.join(
            F.broadcast(nk.select(F.col("id").alias("id_a"), F.col("nk").alias("nk_a"))),
            "id_a",
        )
        .join(
            F.broadcast(nk.select(F.col("id").alias("id_b"), F.col("nk").alias("nk_b"))),
            "id_b",
        )
        .filter(F.col("nk_a") == F.col("nk_b"))
        .select("id_a", "id_b")
    )
    clusters = D.cluster_pairs(pairs).withColumnRenamed("doc_id", "id")
    ent = (
        sup.select(F.col("s_suppkey").cast("long").alias("id"))
        .join(clusters, "id", "left")
        .select(
            "id",
            F.coalesce(F.col("canonical_id"), F.col("id")).alias("entity_id"),
        )
    )
    return (
        ent.groupBy("entity_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_members"),
            F.max("id").cast("long").alias("max_member"),
        )
        .select(F.col("entity_id").cast("long"), "n_members", "max_member")
        .orderBy("entity_id")
    )


def _wet_extract_oracle() -> str:
    """DuckDB twin of :func:`wet_extract`: the same single-line HTML
    built directly from ``documents`` (the WARC wrap/parse on the Spark
    side must be an exact identity), then text.html_extract_expr_sql —
    the identical pass chain, pattern for pattern."""
    head = _WET_HEAD.replace("'", "''")
    tail = _WET_TAIL.replace("'", "''")
    expr = X.html_extract_expr_sql("html")
    return f"""
    WITH h AS (
      SELECT doc_id,
             '{head}' || CAST(doc_id AS VARCHAR) || '</h1><p>' ||
             replace(replace(replace(text, '&', '&amp;'),
                     '<', '&lt;'), '>', '&gt;') ||
             '{tail}' AS html
      FROM documents
    )
    SELECT doc_id, {expr} AS text,
           CAST(length({expr}) AS BIGINT) AS n_chars
    FROM h ORDER BY doc_id
    """


def _profile_skew_oracle() -> str:
    from adtl_spark.operators.profile import skew_report_oracle_sql

    return skew_report_oracle_sql(
        "SELECT l_partkey FROM lineitem", "l_partkey", top_k=10
    )


def _robust_outliers_oracle() -> str:
    from adtl_spark.operators.profile import robust_outliers_oracle_sql

    return robust_outliers_oracle_sql(
        "SELECT event_id, value FROM events",
        "floor(value)",
        "event_id",
    )


def _join_cardinality_oracle() -> str:
    from adtl_spark.operators.profile import join_cardinality_oracle_sql

    return join_cardinality_oracle_sql(
        "SELECT o_orderkey FROM orders",
        "SELECT l_orderkey FROM lineitem",
        "o_orderkey",
        "l_orderkey",
        top_k=10,
    )


def _io_shard_manifest_oracle() -> str:
    from adtl_spark.sources.io import shard_manifest_oracle_sql

    return shard_manifest_oracle_sql(
        "SELECT doc_id, n_chars FROM documents",
        16,
        key_expr="doc_id",
        size_expr="n_chars",
    )


def ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ composite ANN (similarity.ann_ivfpq): the coarse quantizer
    prunes each query to its n_probe cells and PQ ADC scores only those
    candidates from m-byte codes — the composition billion-vector
    indexes deploy (IVF bounds the scan, PQ bounds the bytes).  The
    oracle replays the ENTIRE index — coarse assignment, probing, PQ
    encoding, cell-restricted ADC — so both pruning layers are
    value-checked, not just the final lookup."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.orderBy("vec_id").limit(ANN_QUERIES)
    return S.ann_ivfpq(
        emb, queries, n_centroids=IVF_CENTROIDS, n_probe=IVF_PROBE,
        m=PQ_M, ks=PQ_KS, k=ANN_K, dim=EMB_DIM,
    )


def ann_ivfpq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured recall@k of IVF-PQ against exact L2 over ALL pairs —
    both loss sources (IVF pruning + PQ quantization) count against the
    number, the way a production index is sized.  Measured 0.36 at
    (16 cells, 4 probes, ks=64) on this corpus — identical to plain
    ADC's 0.36: probing 4/16 cells loses nothing here while scanning a
    quarter of the corpus per query.  The knob pair (n_probe, ks) and
    that crossover are what this gate records."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.orderBy("vec_id").limit(ANN_QUERIES)
    exact = S.l2_topk(emb, queries, k=ANN_K).select(
        "query_id", "corpus_id", F.lit(1).alias("t")
    )
    approx = S.ann_ivfpq(
        emb, queries, n_centroids=IVF_CENTROIDS, n_probe=IVF_PROBE,
        m=PQ_M, ks=PQ_KS, k=ANN_K, dim=EMB_DIM,
    ).select("query_id", "corpus_id", F.lit(1).alias("f"))
    j = exact.join(approx, ["query_id", "corpus_id"], "left")
    n_exact = F.count(F.lit(1))
    n_hit = F.sum(F.coalesce(F.col("f"), F.lit(0)))
    return j.agg(
        n_exact.cast("long").alias("n_exact"),
        n_hit.cast("long").alias("n_hit"),
        (
            F.floor(
                n_hit.cast("double") / n_exact.cast("double") * 10000
                + F.lit(0.5)
            )
            / 10000.0
        ).alias("recall_at_k"),
    )


def emb_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training
    (similarity.hard_negatives): per query vector, the top-k most
    similar corpus vectors with a DIFFERENT label — the
    similar-but-wrong examples that teach the decision boundary.  Label
    mismatch prunes inside the join condition before any similarity
    arithmetic runs."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.orderBy("vec_id").limit(ANN_QUERIES)
    return S.hard_negatives(emb, queries, k=ANN_K)


DAY_NS = 86_400_000_000_000
HOUR_NS = 3_600_000_000_000


def w17_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC resample: per (user, day) the open/high/low/close of the
    event value — the time-series candle aggregation.  Open/close pin
    to the (ts, event_id)-first/last rows via two row_number windows in
    ONE shuffle by (user, day); high/low/count ride the same
    aggregation.  Values quantize per the floor protocol."""
    ev = _t(spark, sf_dir, "events")
    base = ev.select(
        "user_id",
        F.floor(F.col("ts") / F.lit(DAY_NS)).cast("long").alias("day"),
        "ts",
        "event_id",
        "value",
    )
    w_f = Window.partitionBy("user_id", "day").orderBy("ts", "event_id")
    w_l = Window.partitionBy("user_id", "day").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    q4 = lambda c: F.floor(c * 10000 + F.lit(0.5)) / 10000.0
    return (
        base.withColumn("rn_f", F.row_number().over(w_f))
        .withColumn("rn_l", F.row_number().over(w_l))
        .groupBy("user_id", "day")
        .agg(
            q4(F.max(F.when(F.col("rn_f") == 1, F.col("value")))).alias("open"),
            q4(F.max("value")).alias("high"),
            q4(F.min("value")).alias("low"),
            q4(F.max(F.when(F.col("rn_l") == 1, F.col("value")))).alias("close"),
            F.count(F.lit(1)).cast("long").alias("n"),
        )
        .orderBy("user_id", "day")
    )


def w18_sequence_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-constrained sequence detection (view -> purchase within one
    hour) with NO self-join: a descending-(ts, event_id) running min of
    purchase timestamps gives every event its NEXT purchase time in one
    window pass, so the match is a filter — the funnel-style question
    answered with one shuffle by user where the naive form is an
    interval self-join.  Exact integer output: per user, views,
    conversions, and the summed view->purchase gap in nanos."""
    ev = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.desc("ts"), F.desc("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    nxt = F.min(
        F.when(F.col("event_type") == "purchase", F.col("ts"))
    ).over(w)
    views = (
        ev.withColumn("next_pts", nxt)
        .filter(F.col("event_type") == "view")
        .withColumn("gap", F.col("next_pts") - F.col("ts"))
        .withColumn(
            "conv",
            (F.col("gap").isNotNull() & (F.col("gap") <= HOUR_NS)).cast("int"),
        )
    )
    return (
        views.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_views"),
            F.sum("conv").cast("long").alias("n_conversions"),
            F.coalesce(
                F.sum(F.when(F.col("conv") == 1, F.col("gap"))), F.lit(0)
            )
            .cast("long")
            .alias("sum_gap_ns"),
        )
        .orderBy("user_id")
    )


def ann_ivfpq_residual_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Residual IVF-PQ — the true IVFADC (similarity.ann_ivfpq_residual):
    PQ codes quantize v - c(v); per-(query, probed-cell) residual LUTs
    ride the broadcast relation as DATA columns (plan size O(1) however
    many cells/codes).  The oracle replays residual codebooks, residual
    encoding, and the per-cell ADC."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.orderBy("vec_id").limit(ANN_QUERIES)
    return S.ann_ivfpq_residual(
        emb, queries, n_centroids=IVF_CENTROIDS, n_probe=IVF_PROBE,
        m=PQ_M, ks=PQ_KS, k=ANN_K, dim=EMB_DIM,
    )


def ann_ivfpq_residual_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured recall@k of residual IVF-PQ vs all-pairs exact L2: 0.12
    on this corpus vs 0.36 for the no-residual form at identical
    parameters — the crossover the other way.  Residual encoding pays
    when the coarse centroids explain real variance (then codebooks
    spend resolution on small within-cell offsets); this corpus's
    near-uniform vectors give centroids ~no explanatory power, so the
    residual transform just refits the same untrained codebook to a
    worse distribution.  Like the Lloyd-training crossover recorded on
    ann_pq_trained_topk, the lesson this gate encodes is: pick the
    encoding BY MEASUREMENT, per corpus — which is exactly what these
    recall gates are for."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.orderBy("vec_id").limit(ANN_QUERIES)
    exact = S.l2_topk(emb, queries, k=ANN_K).select(
        "query_id", "corpus_id", F.lit(1).alias("t")
    )
    approx = S.ann_ivfpq_residual(
        emb, queries, n_centroids=IVF_CENTROIDS, n_probe=IVF_PROBE,
        m=PQ_M, ks=PQ_KS, k=ANN_K, dim=EMB_DIM,
    ).select("query_id", "corpus_id", F.lit(1).alias("f"))
    j = exact.join(approx, ["query_id", "corpus_id"], "left")
    n_exact = F.count(F.lit(1))
    n_hit = F.sum(F.coalesce(F.col("f"), F.lit(0)))
    return j.agg(
        n_exact.cast("long").alias("n_exact"),
        n_hit.cast("long").alias("n_hit"),
        (
            F.floor(
                n_hit.cast("double") / n_exact.cast("double") * 10000
                + F.lit(0.5)
            )
            / 10000.0
        ).alias("recall_at_k"),
    )


TRUNC_D = 32


def ann_truncation_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured recall@k of FIRST-HALF-dims cosine vs full-dim cosine
    (similarity.cosine_truncated_topk): the matryoshka-index question —
    can half the bytes/FLOPs per candidate keep the neighbors — answered
    by measurement: 0.32 on this corpus (generic embeddings spread
    information across dims; matryoshka-trained models concentrate it,
    and THIS gate is how you verify a model actually does before sizing
    the cheap index)."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.orderBy("vec_id").limit(ANN_QUERIES)
    exact = S.cosine_topk(emb, queries, k=ANN_K).select(
        "query_id", "corpus_id", F.lit(1).alias("t")
    )
    approx = S.cosine_truncated_topk(
        emb, queries, d_keep=TRUNC_D, k=ANN_K
    ).select("query_id", "corpus_id", F.lit(1).alias("f"))
    # both sides are queries x k rows; hint the approx side so the
    # recall join never sort-merges (the other recall gates' shape)
    j = exact.join(F.broadcast(approx), ["query_id", "corpus_id"], "left")
    n_exact = F.count(F.lit(1))
    n_hit = F.sum(F.coalesce(F.col("f"), F.lit(0)))
    return j.agg(
        n_exact.cast("long").alias("n_exact"),
        n_hit.cast("long").alias("n_hit"),
        (
            F.floor(
                n_hit.cast("double") / n_exact.cast("double") * 10000
                + F.lit(0.5)
            )
            / 10000.0
        ).alias("recall_at_k"),
    )


def w20_cumulative_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly new vs cumulative distinct users — the growth curve.  The
    running-distinct trap (a distinct inside a moving window rescans
    history per bucket) reduces to first-seen attribution: one (user)
    aggregation finds each user's first hour, an hour-grain count gives
    new-user counts, and a running sum over the HOUR-GRAIN relation
    (bounded by the calendar, not the corpus) yields the cumulative
    curve exactly."""
    ev = _t(spark, sf_dir, "events")
    first = ev.groupBy("user_id").agg(
        F.min(F.floor(F.col("ts") / F.lit(HOUR_NS))).cast("long").alias("hour")
    )
    hourly = first.groupBy("hour").agg(
        F.count(F.lit(1)).cast("long").alias("new_users")
    )
    w = Window.orderBy("hour").rowsBetween(Window.unboundedPreceding, 0)
    return hourly.select(
        "hour",
        "new_users",
        F.sum("new_users").over(w).cast("long").alias("cum_users"),
    ).orderBy("hour")


BASKET_MIN_SUPPORT = 2
BASKET_TOP = 15


def olap_basket_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket lift over co-ordered parts: for part pairs sharing
    an order, lift = P(a,b) / (P(a) P(b)) over the order population —
    the association measure behind recommendations.  The pair space is
    bounded by the per-order item count (max 13 lines here, so <= 78
    pairs per order), NOT |parts|^2: the self-join on the order key
    explodes only within orders — the fact-to-fact equi-join shape with
    a tiny per-key fan-out.  Integer-exact: counts are BIGINT, lift
    quantizes at 1e-4 from exact products."""
    # persist the distinct (order, part) relation: it feeds four consumers
    # (both self-join sides, the per-part counts, the order count) and the
    # self-join's broadcast build side leaves no exchange to reuse — the
    # uncached plan scanned lineitem and re-ran the distinct five times
    li = (
        _t(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
        .persist()
    )
    a = li.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pa")
    )
    b = li.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pb")
    )
    pairs = (
        a.join(b, "ok")
        .filter(F.col("pa") < F.col("pb"))
        .groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .filter(F.col("n_ab") >= BASKET_MIN_SUPPORT)
    )
    part_counts = li.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("n_p"))
    n_orders = li.agg(
        F.countDistinct("l_orderkey").alias("n_orders")
    )
    scored = (
        pairs.join(
            F.broadcast(part_counts.withColumnRenamed("l_partkey", "pa")
                        .withColumnRenamed("n_p", "n_a")),
            "pa",
        )
        .join(
            F.broadcast(part_counts.withColumnRenamed("l_partkey", "pb")
                        .withColumnRenamed("n_p", "n_b")),
            "pb",
        )
        .crossJoin(F.broadcast(n_orders))
        .select(
            "pa",
            "pb",
            F.col("n_ab").cast("long").alias("n_ab"),
            F.col("n_a").cast("long").alias("n_a"),
            F.col("n_b").cast("long").alias("n_b"),
            (
                F.floor(
                    (F.col("n_ab") * F.col("n_orders") * 10000).cast("double")
                    / (F.col("n_a") * F.col("n_b")).cast("double")
                    + F.lit(0.5)
                )
                / 10000.0
            ).alias("lift"),
        )
    )

    return cut_and_release(
        scored.orderBy(F.desc("lift"), F.asc("pa"), F.asc("pb")).limit(
            BASKET_TOP
        ),
        [li],
    )


def quality_quantile_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile drift between snapshots in SKETCH space: per source, the
    p25/p50/p90 document lengths of the even- and odd-doc snapshots read
    off two bottom-k sketches, plus the shifts — the location-by-group
    complement of quality_ks_drift (KS gives one global max-gap; this
    names WHICH group's WHICH quantile moved).  Each side is a mergeable
    k-row-per-group sketch, so at 100 TB the drift report costs two
    sketch reads, not two corpus sorts; the oracle replays both sketches
    exactly.  (Snapshots split on doc_id % 40 < 20: this corpus assigns
    source = src{doc_id % 20}, so a parity split would give the two
    snapshots DISJOINT sources — the %40 split covers every source on
    both sides.)"""
    docs = _t(spark, sf_dir, "documents")
    ref = SK.quantile_bottomk(
        docs.filter(F.col("doc_id") % 40 < 20),
        "n_chars", "doc_id", "source", k=256, group_name="source",
    ).select(
        "source",
        F.col("n_sample").alias("n_ref"),
        F.col("q25").alias("q25_ref"),
        F.col("q50").alias("q50_ref"),
        F.col("q90").alias("q90_ref"),
    )
    cur = SK.quantile_bottomk(
        docs.filter(F.col("doc_id") % 40 >= 20),
        "n_chars", "doc_id", "source", k=256, group_name="source",
    ).select(
        "source",
        F.col("n_sample").alias("n_cur"),
        F.col("q25").alias("q25_cur"),
        F.col("q50").alias("q50_cur"),
        F.col("q90").alias("q90_cur"),
    )
    return (
        ref.join(cur, "source")
        .select(
            "source", "n_ref", "n_cur",
            "q25_ref", "q25_cur",
            (F.col("q25_cur") - F.col("q25_ref")).cast("long").alias("q25_shift"),
            "q50_ref", "q50_cur",
            (F.col("q50_cur") - F.col("q50_ref")).cast("long").alias("q50_shift"),
            "q90_ref", "q90_cur",
            (F.col("q90_cur") - F.col("q90_ref")).cast("long").alias("q90_shift"),
        )
        .orderBy("source")
    )


DEBOUNCE_NS = 5_000_000_000_000  # 5000 s on this corpus's sparse timeline


def w19_dedup_debounce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Telemetry debounce (trailing form, the UI-debounce semantics):
    a burst of same-(user, event_type) events collapses to its FIRST
    event, where a burst is any run whose consecutive gaps all stay
    within the debounce window — the timer resets on every event, so
    the run ends only at a quiet gap.  Gaps-and-islands makes this one
    relational pass (lag-gap > window starts an island; the island's
    first row survives): one shuffle by (user, type).  The other
    debounce variant — distance from the last KEPT event — is
    inherently sequential (state depends on prior decisions); its
    streaming home is the stateful first-seen dedup
    (streaming/stateful.py), and this is the batch burst-collapse twin.
    Output: per (user, type), events seen vs kept."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    gap_starts = (
        F.when(
            F.col("ts") - F.lag("ts").over(w) > DEBOUNCE_NS, F.lit(1)
        ).otherwise(F.lit(0))
    )
    isl = ev.withColumn(
        "island",
        F.sum(
            F.when(F.lag("ts").over(w).isNull(), F.lit(1)).otherwise(gap_starts)
        ).over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    w_isl = Window.partitionBy("user_id", "event_type", "island").orderBy(
        "ts", "event_id"
    )
    flagged = isl.withColumn(
        "kept", (F.row_number().over(w_isl) == 1).cast("int")
    )
    return (
        flagged.groupBy("user_id", "event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum("kept").cast("long").alias("n_kept"),
        )
        .orderBy("user_id", "event_type")
    )


def emb_hard_negatives_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-scale hard-negative mining
    (similarity.hard_negatives_ann): candidates only from the query's
    probed IVF cells (hard negatives are nearby by definition), label
    filter on the cell join, exact cosine over just those candidates —
    the mining pass that runs over a full corpus where the exact form
    (emb_hard_negatives) stays batch-sized."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.orderBy("vec_id").limit(ANN_QUERIES)
    return S.hard_negatives_ann(
        emb, queries, n_centroids=IVF_CENTROIDS, n_probe=IVF_PROBE, k=ANN_K
    )


def quality_chi2_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square homogeneity drift over the CATEGORICAL source column
    between the even/odd document snapshots (operators/monitor.py
    chi2_drift) — the unordered companion to quality_psi_drift's
    bucketed shares: per-category expected counts and (O-E)^2/E
    contributions, df = categories - 1."""
    docs = _t(spark, sf_dir, "documents")
    return MO.chi2_drift(
        docs.filter(F.col("doc_id") % 2 == 0),
        docs.filter(F.col("doc_id") % 2 == 1),
        F.col("source"),
    )


def emb_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space drift between the even/odd vec_id snapshots, per
    label (operators/monitor.py centroid_drift): cosine between the two
    snapshot centroids, the L2 shift, and the norm ratio — the monitor
    that catches a silently-retrained embedding model when every scalar
    feature still looks stable.  Per-dimension means ride the
    label_centroids aggregation shape; the vectors never shuffle."""
    emb = _t(spark, sf_dir, "embeddings")
    return MO.centroid_drift(
        emb.filter(F.col("vec_id") % 2 == 0),
        emb.filter(F.col("vec_id") % 2 == 1),
        label_col="label",
    )


def profile_join_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact pre-join planning diagnostic for orders x lineitem on the
    order key (operators/profile.join_cardinality): the inner-join
    output size and its key concentration computed from per-key COUNT
    tables — orders of magnitude smaller than running the join — so the
    salting/broadcast decision is made from numbers, not guesses.  The
    companion to profile_key_skew at the two-sided grain."""
    from adtl_spark.operators.profile import join_cardinality

    return join_cardinality(
        _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "lineitem"),
        "o_orderkey",
        "l_orderkey",
        top_k=10,
    )


def profile_robust_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Modified-z-score outlier report over events.value
    (operators/profile.robust_outliers): exact lower-median and MAD
    from the value-grain count relation, integer decision
    6745*dev > 35000*MAD — the data-quality filter whose threshold the
    outliers themselves cannot poison (unlike mean/stddev)."""
    from adtl_spark.operators.profile import robust_outliers

    ev = _t(spark, sf_dir, "events")
    return robust_outliers(
        ev, F.floor(F.col("value")).cast("long"), "event_id"
    )


def sketch_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact bitmap-index distinct rollup
    (sketches.bitmap_distinct_rollup): distinct l_partkey per return
    flag PLUS the exact corpus-wide count from OR-merging the per-flag
    bitmap tables, never rescanning lineitem — the exact twin of
    sketch_hll_rollup for bounded integer key domains, with the same
    mergeable-state shape (word-wise OR instead of register-wise
    max)."""
    from adtl_spark.operators.sketches import bitmap_distinct_rollup

    li = _t(spark, sf_dir, "lineitem")
    return bitmap_distinct_rollup(
        li, "l_partkey", "l_returnflag", group_name="flag"
    )


def ann_ivfpq_rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full production ANN path (similarity.ann_ivfpq_rerank): IVF
    cells prune the scan, PQ ADC ranks probed candidates from m-byte
    codes, exact L2 re-ranks only the per-query shortlist — faiss
    IndexIVFPQ + refine as a composition of the oracle-gated pieces."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.orderBy("vec_id").limit(ANN_QUERIES)
    return S.ann_ivfpq_rerank(
        emb, queries, n_centroids=IVF_CENTROIDS, n_probe=IVF_PROBE,
        m=PQ_M, ks=PQ_KS, k=ANN_K, shortlist=PQ_RERANK_SHORTLIST,
        dim=EMB_DIM,
    )


def ann_ivfpq_rerank_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured recall@k of the full IVF-PQ + exact-rerank path against
    all-pairs exact L2: 0.92 at (16 cells, 4 probes, ks=64, shortlist
    100) on this corpus vs 0.88 for un-probed PQ rerank — the
    recall/latency record for the deployment-shaped configuration,
    scanning 4/16 of the corpus per query."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.orderBy("vec_id").limit(ANN_QUERIES)
    exact = S.l2_topk(emb, queries, k=ANN_K).select(
        "query_id", "corpus_id", F.lit(1).alias("t")
    )
    approx = S.ann_ivfpq_rerank(
        emb, queries, n_centroids=IVF_CENTROIDS, n_probe=IVF_PROBE,
        m=PQ_M, ks=PQ_KS, k=ANN_K, shortlist=PQ_RERANK_SHORTLIST,
        dim=EMB_DIM,
    ).select("query_id", "corpus_id", F.lit(1).alias("f"))
    j = exact.join(approx, ["query_id", "corpus_id"], "left")
    n_exact = F.count(F.lit(1))
    n_hit = F.sum(F.coalesce(F.col("f"), F.lit(0)))
    return j.agg(
        n_exact.cast("long").alias("n_exact"),
        n_hit.cast("long").alias("n_hit"),
        (
            F.floor(
                n_hit.cast("double") / n_exact.cast("double") * 10000
                + F.lit(0.5)
            )
            / 10000.0
        ).alias("recall_at_k"),
    )


def join_bloom_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime-filter join (operators/joins.bloom_filtered_join): a
    Bloom filter over the selective side's keys pre-filters the fact
    side MAP-SIDE before the shuffle join — the both-sides-too-big-to-
    broadcast remedy; the probe shuffle shrinks to selectivity + false
    positives (measured 19.6% surviving at 19.6% true selectivity — 9
    false positives in 60k rows at sf0.01) while the result stays
    row-for-row equal to the plain join (no false negatives; survivors
    are dropped by the real join).  The oracle IS the plain join, so the
    gate proves the transparency claim."""
    from adtl_spark.operators.joins import bloom_filtered_join

    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    ).select("o_orderkey")
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    j = bloom_filtered_join(li, orders, "l_orderkey", "o_orderkey")
    return j.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        (
            F.sum(
                F.floor(
                    F.col("l_extendedprice")
                    * (1 - F.col("l_discount"))
                    * 10000
                    + F.lit(0.5)
                ).cast("long")
            )
            / 10000.0
        ).alias("revenue"),
    )


PHRASE_QUERY = ["fast", "merge"]


def text_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact phrase search over the positional inverted index
    (text.phrase_search): every (doc, position) occurrence of a token
    phrase found via a broadcast join against the postings plus ONE
    (doc, anchor) aggregation — grep at corpus scale with no per-query
    text scan and no L-way self-join.  At 100 TB the postings relation
    is persisted bucketed by token so a query prunes to its own tokens'
    postings at the scan."""
    docs = _t(spark, sf_dir, "documents")
    return X.phrase_search(docs, PHRASE_QUERY)


def _sharp_gray_sql(y: str, x: str) -> str:
    """SQL text for the sharpness fixture's grayscale at (y, x): the
    arithmetic-P6 byte closed form ((seed*31 + j*131) % 256) at the
    three channel offsets, weighted 299/587/114 — expanded per stencil
    tap so the oracle recomputes exactly what the decoder saw."""
    base = f"(3 * (({y}) * W + ({x})))"

    def p(off: int) -> str:
        return f"((seed * 31 + ({base} + {off}) * 131) % 256)"

    return f"(299 * {p(0)} + 587 * {p(1)} + 114 * {p(2)})"


def oracles() -> dict[str, str]:
    en = X.STOPWORDS["en"]
    en_sql = "[" + ", ".join(f"'{w}'" for w in en) + "]"
    lang_scores = {
        lang: f"len(list_filter(toks, t -> list_contains({'[' + ', '.join(chr(39) + w + chr(39) for w in X.STOPWORDS[lang]) + ']'}, t)))"
        for lang in sorted(X.STOPWORDS)
    }
    score_cols = ",\n          ".join(
        f"CASE WHEN len(toks) > 0 THEN {expr} / CAST(len(toks) AS DOUBLE) ELSE 0.0 END AS s_{lang}"
        for lang, expr in lang_scores.items()
    )
    langs = sorted(X.STOPWORDS)
    lang_case = "CASE "
    for lang in langs:
        conds = " AND ".join(
            f"s_{lang} >= s_{other}" for other in langs if other != lang
        )
        lang_case += f"WHEN {conds} THEN '{lang}' "
    lang_case += "ELSE 'und' END"
    lang_best = "CASE "
    for lang in langs:
        conds = " AND ".join(
            f"s_{lang} >= s_{other}" for other in langs if other != lang
        )
        lang_best += f"WHEN {conds} THEN s_{lang} "
    lang_best += "ELSE 0.0 END"

    return {
        "retrieval_ql_topk": R.ql_topk_oracle_sql(
            "documents", BM25_QUERIES, k=BM25_K
        ),
        "retrieval_rrf_fuse": R.rrf_fuse_oracle_sql(
            X.bm25_topk_oracle_sql("documents", BM25_QUERIES, k=RRF_N),
            R.ql_topk_oracle_sql("documents", BM25_QUERIES, k=RRF_N),
            k=RRF_K,
        ),
        "retrieval_ndcg_truncated": R.ndcg_truncated_oracle_sql(
            "embeddings", TRUNC_D, NDCG_K, ANN_QUERIES
        ),
        "retrieval_mmr_topk": R.mmr_topk_oracle_sql(
            "embeddings", MMR_K, MMR_POOL, MMR_QUERIES
        ),
        "graph_label_propagation": G.label_propagation_cooccurrence_oracle_sql(
            "SELECT l_orderkey AS g, l_suppkey AS m FROM lineitem",
            "SELECT s_suppkey AS v FROM supplier",
            iters=LPA_ITERS,
        ),
        "mixture_doremi_step": SA.doremi_step_oracle_sql(
            "SELECT doc_id, text, source FROM documents"
        ),
        "retrieval_hybrid_rrf": R.rrf_fuse_oracle_sql(
            X.bm25_topk_oracle_sql(
                "documents",
                None,
                k=RRF_N,
                queries_sql=(
                    "SELECT doc_id AS query_id, text AS query FROM documents "
                    f"ORDER BY doc_id LIMIT {HY_QUERIES}"
                ),
            ),
            (
                "SELECT query_id, corpus_id AS doc_id, rank FROM ("
                + S.cosine_topk_oracle_sql("embeddings", RRF_N, HY_QUERIES)
                + ") __dn"
            ),
            k=RRF_K,
            exclude_self=True,
        ),
        "retrieval_rm3_expand": R.rm3_expansion_oracle_sql(
            "documents", BM25_QUERIES, m=RM3_M, e=RM3_E
        ),
        "retrieval_snippet": R.best_snippet_oracle_sql(
            "documents", BM25_QUERIES, w=SNIPPET_W, n_docs=SNIPPET_DOCS
        ),
        "corpus_heldout_ppl": C.heldout_perplexity_oracle_sql(
            f"SELECT doc_id, text FROM documents WHERE doc_id % {HOLDOUT_MOD} != 0",
            f"SELECT doc_id, text FROM documents WHERE doc_id % {HOLDOUT_MOD} = 0",
        ),
        "ann_ivfpq_rerank_ndcg": R.ndcg_oracle_sql(
            S.l2_topk_oracle_sql("embeddings", NDCG_K, ANN_QUERIES),
            S.ann_ivfpq_rerank_oracle_sql(
                "embeddings", IVF_CENTROIDS, IVF_PROBE, PQ_M, PQ_KS,
                NDCG_K, PQ_RERANK_SHORTLIST, ANN_QUERIES, dim=EMB_DIM,
            ),
            k=NDCG_K,
        ),
        "graph_modularity": G.modularity_lpa_oracle_sql(
            "SELECT l_orderkey AS g, l_suppkey AS m FROM lineitem",
            "SELECT s_suppkey AS v FROM supplier",
            iters=LPA_ITERS,
        ),
        "text_textrank_keywords": G.pagerank_edges_oracle_sql(
            _TEXTRANK_EDGES_SQL,
            _TEXTRANK_VERTS_SQL,
            iters=3,
            tail_sql=f"""
    SELECT v AS token,
           floor(CAST(rq AS DOUBLE) / CAST({G.PR_SCALE / 10000.0!r} AS DOUBLE) + 0.5) / 10000.0 AS pagerank
    FROM r3
    ORDER BY pagerank DESC, v ASC
    LIMIT {TEXTRANK_K}
    """,
        ),
        "ann_ivfpq_topk": S.ann_ivfpq_oracle_sql(
            "embeddings", IVF_CENTROIDS, IVF_PROBE, PQ_M, PQ_KS,
            ANN_K, ANN_QUERIES, dim=EMB_DIM,
        ),
        "ann_ivfpq_recall": S.ann_ivfpq_recall_oracle_sql(
            "embeddings", IVF_CENTROIDS, IVF_PROBE, PQ_M, PQ_KS,
            ANN_K, ANN_QUERIES, dim=EMB_DIM,
        ),
        "emb_hard_negatives": S.hard_negatives_oracle_sql(
            "embeddings", ANN_K, ANN_QUERIES
        ),
        "emb_hard_negatives_ann": S.hard_negatives_ann_oracle_sql(
            "embeddings", IVF_CENTROIDS, IVF_PROBE, ANN_K, ANN_QUERIES
        ),
        "ann_truncation_recall": S.ann_truncation_recall_oracle_sql(
            "embeddings", TRUNC_D, ANN_K, ANN_QUERIES
        ),
        "ann_ivfpq_residual_topk": S.ann_ivfpq_residual_oracle_sql(
            "embeddings", IVF_CENTROIDS, IVF_PROBE, PQ_M, PQ_KS,
            ANN_K, ANN_QUERIES, dim=EMB_DIM,
        ),
        "ann_ivfpq_residual_recall": S.ann_ivfpq_residual_recall_oracle_sql(
            "embeddings", IVF_CENTROIDS, IVF_PROBE, PQ_M, PQ_KS,
            ANN_K, ANN_QUERIES, dim=EMB_DIM,
        ),
        "w20_cumulative_users": f"""
            WITH first AS (
              SELECT user_id, CAST(min(epoch_ns(ts) // {HOUR_NS}) AS BIGINT) AS hour
              FROM events GROUP BY user_id
            ),
            hourly AS (
              SELECT hour, CAST(count(*) AS BIGINT) AS new_users
              FROM first GROUP BY hour
            )
            SELECT hour, new_users,
                   CAST(sum(new_users) OVER (
                     ORDER BY hour ROWS UNBOUNDED PRECEDING
                   ) AS BIGINT) AS cum_users
            FROM hourly
            ORDER BY hour
        """,
        "olap_basket_lift": f"""
            WITH li AS (
              SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
            ),
            pairs AS (
              SELECT a.l_partkey AS pa, b.l_partkey AS pb,
                     CAST(count(*) AS BIGINT) AS n_ab
              FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
              WHERE a.l_partkey < b.l_partkey
              GROUP BY 1, 2
              HAVING count(*) >= {BASKET_MIN_SUPPORT}
            ),
            pc AS (
              SELECT l_partkey, CAST(count(*) AS BIGINT) AS n_p
              FROM li GROUP BY 1
            ),
            no AS (
              SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders
              FROM li
            )
            SELECT pa, pb, n_ab,
                   ca.n_p AS n_a, cb.n_p AS n_b,
                   floor(CAST(n_ab * n_orders * 10000 AS DOUBLE)
                         / CAST(ca.n_p * cb.n_p AS DOUBLE) + 0.5) / 10000.0
                     AS lift
            FROM pairs
            JOIN pc ca ON ca.l_partkey = pa
            JOIN pc cb ON cb.l_partkey = pb
            CROSS JOIN no
            ORDER BY lift DESC, pa ASC, pb ASC
            LIMIT {BASKET_TOP}
        """,
        "quality_quantile_drift": (
            "WITH ref AS ("
            + SK.quantile_bottomk_oracle_sql(
                "SELECT doc_id, n_chars, source FROM documents WHERE doc_id % 40 < 20",
                "doc_id", "n_chars", "source", k=256, group_name="source",
            )
            + "), cur AS ("
            + SK.quantile_bottomk_oracle_sql(
                "SELECT doc_id, n_chars, source FROM documents WHERE doc_id % 40 >= 20",
                "doc_id", "n_chars", "source", k=256, group_name="source",
            )
            + """)
            SELECT ref.source,
                   ref.n_sample AS n_ref, cur.n_sample AS n_cur,
                   ref.q25 AS q25_ref, cur.q25 AS q25_cur,
                   CAST(cur.q25 - ref.q25 AS BIGINT) AS q25_shift,
                   ref.q50 AS q50_ref, cur.q50 AS q50_cur,
                   CAST(cur.q50 - ref.q50 AS BIGINT) AS q50_shift,
                   ref.q90 AS q90_ref, cur.q90 AS q90_cur,
                   CAST(cur.q90 - ref.q90 AS BIGINT) AS q90_shift
            FROM ref JOIN cur ON ref.source = cur.source
            ORDER BY ref.source
            """
        ),
        "w19_dedup_debounce": f"""
            WITH base AS (
              SELECT user_id, event_type, event_id, epoch_ns(ts) AS tsn
              FROM events
            ),
            brk AS (
              SELECT user_id, event_type, event_id, tsn,
                     CASE WHEN lag(tsn) OVER w IS NULL THEN 1
                          WHEN tsn - lag(tsn) OVER w > {DEBOUNCE_NS} THEN 1
                          ELSE 0 END AS b
              FROM base
              WINDOW w AS (PARTITION BY user_id, event_type
                           ORDER BY tsn, event_id)
            ),
            isl AS (
              SELECT user_id, event_type, event_id, tsn,
                     sum(b) OVER (PARTITION BY user_id, event_type
                                  ORDER BY tsn, event_id
                                  ROWS UNBOUNDED PRECEDING) AS island
              FROM brk
            ),
            kept AS (
              SELECT user_id, event_type,
                     CASE WHEN row_number() OVER (
                            PARTITION BY user_id, event_type, island
                            ORDER BY tsn, event_id) = 1
                          THEN 1 ELSE 0 END AS k
              FROM isl
            )
            SELECT user_id, event_type,
                   CAST(count(*) AS BIGINT) AS n_events,
                   CAST(sum(k) AS BIGINT) AS n_kept
            FROM kept
            GROUP BY user_id, event_type
            ORDER BY user_id, event_type
        """,
        "w17_ohlc": f"""
            WITH base AS (
              SELECT user_id, epoch_ns(ts) // {DAY_NS} AS day,
                     epoch_ns(ts) AS tsn, event_id, value
              FROM events
            ),
            ranked AS (
              SELECT user_id, day, value,
                     row_number() OVER (
                       PARTITION BY user_id, day ORDER BY tsn, event_id
                     ) AS rn_f,
                     row_number() OVER (
                       PARTITION BY user_id, day ORDER BY tsn DESC, event_id DESC
                     ) AS rn_l
              FROM base
            )
            SELECT user_id, CAST(day AS BIGINT) AS day,
                   floor(max(CASE WHEN rn_f = 1 THEN value END) * 10000 + 0.5) / 10000.0 AS open,
                   floor(max(value) * 10000 + 0.5) / 10000.0 AS high,
                   floor(min(value) * 10000 + 0.5) / 10000.0 AS low,
                   floor(max(CASE WHEN rn_l = 1 THEN value END) * 10000 + 0.5) / 10000.0 AS close,
                   CAST(count(*) AS BIGINT) AS n
            FROM ranked
            GROUP BY user_id, day
            ORDER BY user_id, day
        """,
        "w18_sequence_detect": f"""
            WITH base AS (
              SELECT user_id, event_type, event_id, epoch_ns(ts) AS tsn
              FROM events
            ),
            nxt AS (
              SELECT user_id, event_type, tsn,
                     min(CASE WHEN event_type = 'purchase' THEN tsn END) OVER (
                       PARTITION BY user_id ORDER BY tsn DESC, event_id DESC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                     ) AS next_pts
              FROM base
            ),
            v AS (
              SELECT user_id, next_pts - tsn AS gap,
                     CASE WHEN next_pts IS NOT NULL
                           AND next_pts - tsn <= {HOUR_NS}
                          THEN 1 ELSE 0 END AS conv
              FROM nxt WHERE event_type = 'view'
            )
            SELECT user_id,
                   CAST(count(*) AS BIGINT) AS n_views,
                   CAST(sum(conv) AS BIGINT) AS n_conversions,
                   CAST(coalesce(sum(CASE WHEN conv = 1 THEN gap END), 0)
                        AS BIGINT) AS sum_gap_ns
            FROM v
            GROUP BY user_id
            ORDER BY user_id
        """,
        "quality_chi2_drift": MO.chi2_drift_oracle_sql(
            "documents", "doc_id % 2 = 0", "doc_id % 2 = 1", "source"
        ),
        "emb_centroid_drift": MO.centroid_drift_oracle_sql(
            "embeddings", "vec_id % 2 = 0", "vec_id % 2 = 1", dim=EMB_DIM
        ),
        "profile_join_cardinality": _join_cardinality_oracle(),
        "text_phrase_search": X.phrase_search_oracle_sql(
            "documents", PHRASE_QUERY
        ),
        "profile_robust_outliers": _robust_outliers_oracle(),
        "sketch_bitmap_distinct": SK.bitmap_distinct_rollup_oracle_sql(
            "SELECT l_partkey, l_returnflag FROM lineitem",
            "l_partkey",
            "l_returnflag",
            group_name="flag",
        ),
        "ann_ivfpq_rerank_topk": S.ann_ivfpq_rerank_oracle_sql(
            "embeddings", IVF_CENTROIDS, IVF_PROBE, PQ_M, PQ_KS,
            ANN_K, PQ_RERANK_SHORTLIST, ANN_QUERIES, dim=EMB_DIM,
        ),
        "ann_ivfpq_rerank_recall": S.ann_ivfpq_rerank_recall_oracle_sql(
            "embeddings", IVF_CENTROIDS, IVF_PROBE, PQ_M, PQ_KS,
            ANN_K, PQ_RERANK_SHORTLIST, ANN_QUERIES, dim=EMB_DIM,
        ),
        "join_bloom_pruned": """
            SELECT CAST(count(*) AS BIGINT) AS n_rows,
                   sum(CAST(floor(l_extendedprice * (1 - l_discount) * 10000
                                  + 0.5) AS BIGINT)) / 10000.0 AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            WHERE o_orderpriority = '1-URGENT'
        """,
        "q1_pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
                   CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base_price,
                   sum(CAST(floor(l_extendedprice * (1 - l_discount) * 10000 + 0.5) AS BIGINT)) / 10000.0 AS sum_disc_price,
                   sum(CAST(floor(l_extendedprice * (1 - l_discount) * (1 + l_tax) * 10000 + 0.5) AS BIGINT)) / 10000.0 AS sum_charge,
                   count(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
            GROUP BY l_returnflag, l_linestatus
            ORDER BY l_returnflag, l_linestatus
        """,
        "q5_local_supplier_volume": """
            SELECT n_name,
                   sum(CAST(floor(l_extendedprice * (1 - l_discount) * 10000 + 0.5) AS BIGINT)) / 10000.0 AS revenue
            FROM customer, orders, lineitem, supplier, nation, region
            WHERE c_custkey = o_custkey
              AND l_orderkey = o_orderkey
              AND l_suppkey = s_suppkey
              AND c_nationkey = s_nationkey
              AND s_nationkey = n_nationkey
              AND n_regionkey = r_regionkey
              AND r_name = 'ASIA'
              AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
              AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
            GROUP BY n_name
            ORDER BY revenue DESC, n_name ASC
        """,
        "q18_large_volume_customer": f"""
            SELECT c_name, c_custkey, o_orderkey,
                   CAST(o_orderdate AS VARCHAR) AS o_orderdate,
                   CAST(CAST(o_totalprice AS DECIMAL(18,4)) AS DOUBLE) AS o_totalprice,
                   CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
            FROM customer, orders, lineitem
            WHERE o_orderkey IN (
              SELECT l_orderkey FROM lineitem
              GROUP BY l_orderkey
              HAVING sum(CAST(l_quantity AS DECIMAL(18,4))) > {Q18_QTY_THRESHOLD}
            )
            AND c_custkey = o_custkey AND o_orderkey = l_orderkey
            GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
            ORDER BY o_totalprice DESC, o_orderdate, o_orderkey
            LIMIT 100
        """,
        "dedup_embedding_recall": """
            WITH truth AS (
              SELECT id_a, id_b, 1 AS t FROM ({EXACT})
            ),
            single AS (
              SELECT id_a, id_b, 1 AS f FROM ({SINGLE})
            ),
            banded AS (
              SELECT id_a, id_b, 1 AS f FROM ({BANDED})
            ),
            m1 AS (
              SELECT 'single_bucket' AS path,
                     CAST(sum(COALESCE(t, 0)) AS BIGINT) AS n_true,
                     CAST(sum(COALESCE(f, 0)) AS BIGINT) AS n_found,
                     CAST(sum(COALESCE(t, 0) * COALESCE(f, 0)) AS BIGINT) AS n_hit,
                     floor(CAST(sum(COALESCE(t, 0) * COALESCE(f, 0)) AS DOUBLE)
                           / CAST(sum(COALESCE(t, 0)) AS DOUBLE) * 10000 + 0.5) / 10000.0 AS recall
              FROM truth FULL OUTER JOIN single USING (id_a, id_b)
            ),
            m2 AS (
              SELECT 'banded_4x2' AS path,
                     CAST(sum(COALESCE(t, 0)) AS BIGINT) AS n_true,
                     CAST(sum(COALESCE(f, 0)) AS BIGINT) AS n_found,
                     CAST(sum(COALESCE(t, 0) * COALESCE(f, 0)) AS BIGINT) AS n_hit,
                     floor(CAST(sum(COALESCE(t, 0) * COALESCE(f, 0)) AS DOUBLE)
                           / CAST(sum(COALESCE(t, 0)) AS DOUBLE) * 10000 + 0.5) / 10000.0 AS recall
              FROM truth FULL OUTER JOIN banded USING (id_a, id_b)
            )
            SELECT * FROM m1 UNION ALL SELECT * FROM m2
        """.replace(
            "{EXACT}",
            S.embedding_neardup_oracle_sql("embeddings", NEARDUP_TAU, planes=0),
        ).replace(
            "{SINGLE}",
            S.embedding_neardup_oracle_sql(
                "embeddings", NEARDUP_TAU, planes=NEARDUP_PLANES
            ),
        ).replace(
            "{BANDED}",
            S.embedding_neardup_oracle_sql(
                "embeddings", NEARDUP_TAU, planes=NEARDUP_PLANES, bands=4
            ),
        ),
        "ann_lsh_recall": """
            WITH exact AS (
              SELECT query_id, corpus_id, 1 AS t FROM ({EXACT})
            ),
            approx AS (
              SELECT query_id, corpus_id, 1 AS f FROM ({LSH})
            ),
            j AS (
              SELECT exact.t, COALESCE(approx.f, 0) AS f
              FROM exact LEFT JOIN approx USING (query_id, corpus_id)
            )
            SELECT CAST(count(*) AS BIGINT) AS n_exact,
                   CAST(sum(f) AS BIGINT) AS n_hit,
                   floor(CAST(sum(f) AS DOUBLE) / CAST(count(*) AS DOUBLE) * 10000 + 0.5) / 10000.0 AS recall_at_k
            FROM j
        """.replace(
            "{EXACT}", S.cosine_topk_oracle_sql("embeddings", ANN_K, ANN_QUERIES)
        ).replace(
            "{LSH}",
            S.ann_lsh_oracle_sql(
                "embeddings", 64, ANN_K, LSH_PLANES, LSH_SEED, ANN_QUERIES
            ),
        ),
        "dedup_minhash_recall": f"""
            WITH truth AS (
              SELECT id_a, id_b, 1 AS t FROM (
                {{EXACT}}
              )
            ),
            found AS (
              SELECT id_a, id_b, 1 AS f FROM (
                {{MH}}
              )
            ),
            j AS (
              SELECT COALESCE(truth.t, 0) AS t, COALESCE(found.f, 0) AS f
              FROM truth FULL OUTER JOIN found USING (id_a, id_b)
            )
            SELECT CAST(sum(t) AS BIGINT) AS n_true,
                   CAST(sum(f) AS BIGINT) AS n_found,
                   CAST(sum(t * f) AS BIGINT) AS n_hit,
                   floor(CAST(sum(t * f) AS DOUBLE) / CAST(sum(t) AS DOUBLE) * 10000 + 0.5) / 10000.0 AS recall
            FROM j
        """.replace(
            "{EXACT}",
            D.ngram_jaccard_oracle_sql(
                "documents", MINHASH_THRESHOLD, SHINGLE_N, MAX_DF_FRAC
            ),
        ).replace(
            "{MH}",
            D.minhash_lsh_oracle_sql(
                "documents", MINHASH_K, MINHASH_BANDS, MINHASH_THRESHOLD, SHINGLE_N
            ),
        ),
        "q10_returned_items": """
            WITH per_cust AS (
              SELECT o_custkey,
                     CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 10000 + 0.5) AS BIGINT)) AS BIGINT)
                       / 10000.0 AS revenue
              FROM lineitem JOIN orders ON l_orderkey = o_orderkey
              WHERE l_returnflag = 'R'
                AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
                AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
              GROUP BY o_custkey
            )
            SELECT c_custkey, c_name, revenue,
                   CAST(c_acctbal AS DOUBLE) AS c_acctbal, n_name
            FROM per_cust
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            ORDER BY revenue DESC, c_custkey LIMIT 20
        """,
        "q13_customer_distribution": """
            WITH per_cust AS (
              SELECT o_custkey, count(*) AS c_count
              FROM orders WHERE o_orderpriority <> '1-URGENT'
              GROUP BY o_custkey
            )
            SELECT COALESCE(p.c_count, 0) AS c_count,
                   count(*) AS custdist
            FROM customer c LEFT JOIN per_cust p ON c.c_custkey = p.o_custkey
            GROUP BY 1
            ORDER BY custdist DESC, c_count DESC
        """,
        "q4_order_priority": """
            SELECT o_orderpriority, count(*) AS order_count
            FROM orders o
            WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
              AND o.o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
              AND EXISTS (
                SELECT 1 FROM lineitem l
                WHERE l.l_orderkey = o.o_orderkey
                  AND l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY)
            GROUP BY o_orderpriority
            ORDER BY o_orderpriority
        """,
        "q2_best_supplier": """
            WITH pairs AS (
              SELECT DISTINCT p_partkey, p_name, l_suppkey
              FROM lineitem JOIN part ON l_partkey = p_partkey
              WHERE p_size = 15 AND p_type = 'SMALL'
            ),
            eu AS (
              SELECT s_suppkey, s_name, s_acctbal, n_name
              FROM supplier
              JOIN nation ON s_nationkey = n_nationkey
              JOIN region ON n_regionkey = r_regionkey
              WHERE r_name = 'EUROPE'
            ),
            ranked AS (
              SELECT s_acctbal, s_name, n_name, p_partkey, p_name,
                     row_number() OVER (
                       PARTITION BY p_partkey
                       ORDER BY s_acctbal DESC, s_suppkey ASC
                     ) AS rn
              FROM pairs JOIN eu ON l_suppkey = s_suppkey
            )
            SELECT s_acctbal, s_name, n_name, p_partkey, p_name
            FROM ranked WHERE rn = 1
            ORDER BY s_acctbal DESC, p_partkey ASC
        """,
        "q8_market_share": """
            SELECT CAST(EXTRACT(year FROM o_orderdate) AS INT) AS o_year,
                   CAST(sum(CASE WHEN n1.n_name = 'NATION_3'
                                 THEN CAST(floor(l_extendedprice * (1 - l_discount)
                                                 * 10000 + 0.5) AS BIGINT)
                                 ELSE 0 END) AS DOUBLE)
                     / CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount)
                                            * 10000 + 0.5) AS BIGINT)) AS DOUBLE)
                     AS mkt_share
            FROM lineitem
            JOIN part ON l_partkey = p_partkey
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation n2 ON c_nationkey = n2.n_nationkey
            JOIN region ON n2.n_regionkey = r_regionkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation n1 ON s_nationkey = n1.n_nationkey
            WHERE p_type = 'PROMO' AND r_name = 'ASIA'
              AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
              AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
            GROUP BY 1 ORDER BY 1
        """,
        "q9_product_profit": """
            SELECT n_name AS nation,
                   CAST(EXTRACT(year FROM o_orderdate) AS INT) AS o_year,
                   CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 10000 + 0.5)
                                 AS BIGINT)) AS BIGINT) / 10000.0 AS profit
            FROM lineitem
            JOIN part ON l_partkey = p_partkey
            JOIN orders ON l_orderkey = o_orderkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation ON s_nationkey = n_nationkey
            WHERE p_name LIKE '%red%'
            GROUP BY 1, 2 ORDER BY nation, o_year DESC
        """,
        "q11_important_parts": """
            WITH per_part AS (
              SELECT l_partkey,
                     sum(CAST(floor(l_extendedprice * (1 - l_discount) * 10000 + 0.5)
                              AS BIGINT)) AS vq
              FROM lineitem
              JOIN supplier ON l_suppkey = s_suppkey
              JOIN nation ON s_nationkey = n_nationkey
              WHERE n_name = 'NATION_5'
              GROUP BY 1
            )
            SELECT l_partkey AS p_partkey,
                   CAST(vq AS BIGINT) / 10000.0 AS part_value
            FROM per_part
            WHERE CAST(vq AS DOUBLE) >
                  CAST((SELECT sum(vq) FROM per_part) AS DOUBLE) * 0.001
            ORDER BY part_value DESC, p_partkey ASC
        """,
        "q16_supplier_count": """
            SELECT p_brand, p_type, p_size,
                   CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
            FROM lineitem
            JOIN part ON l_partkey = p_partkey
            JOIN supplier ON l_suppkey = s_suppkey
            WHERE p_brand <> 'Brand#1' AND p_type <> 'PROMO'
              AND p_size IN (1, 4, 9, 16, 25, 36, 49)
              AND s_acctbal >= 0
            GROUP BY 1, 2, 3
            ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
        """,
        "q20_excess_shipments": """
            WITH per_supp AS (
              SELECT l_suppkey,
                     sum(CAST(floor(l_quantity * 10000 + 0.5) AS BIGINT)) AS sq
              FROM lineitem JOIN part ON l_partkey = p_partkey
              WHERE p_name LIKE '%blue%'
                AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
                AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
              GROUP BY 1
            )
            SELECT s_suppkey, s_name, CAST(sq AS BIGINT) / 10000.0 AS ship_qty
            FROM per_supp
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation ON s_nationkey = n_nationkey
            WHERE n_name = 'NATION_5'
              AND CAST(sq AS DOUBLE) >
                  (SELECT CAST(sum(sq) AS DOUBLE) / count(*) FROM per_supp) * 0.5
            ORDER BY s_suppkey
        """,
        "q6_forecast_revenue": """
            SELECT CAST(sum(CAST(floor(l_extendedprice * l_discount * 10000 + 0.5)
                                 AS BIGINT)) AS BIGINT) / 10000.0 AS revenue
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
              AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
              AND l_discount >= 0.03 AND l_discount <= 0.07
              AND l_quantity < 24
        """,
        "q7_volume_shipping": """
            SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                   CAST(EXTRACT(year FROM l_shipdate) AS INT) AS l_year,
                   CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 10000 + 0.5)
                                 AS BIGINT)) AS BIGINT) / 10000.0 AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation n1 ON s_nationkey = n1.n_nationkey
            JOIN nation n2 ON c_nationkey = n2.n_nationkey
            WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
              AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
              AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
                OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
            GROUP BY 1, 2, 3
            ORDER BY 1, 2, 3
        """,
        "q12_shipping_delay": """
            SELECT CASE WHEN l_shipdate >= o_orderdate + INTERVAL 60 DAY
                        THEN 'late' ELSE 'ontime' END AS delay_bucket,
                   CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                                 THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
                   CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                                 THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            GROUP BY 1 ORDER BY 1
        """,
        "q15_top_supplier": """
            WITH rev AS (
              SELECT l_suppkey AS supplier_no,
                     CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 10000 + 0.5)
                                   AS BIGINT)) AS BIGINT) / 10000.0 AS total_revenue
              FROM lineitem
              WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
                AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
              GROUP BY 1
            )
            SELECT s_suppkey, s_name, total_revenue
            FROM rev JOIN supplier ON supplier_no = s_suppkey
            WHERE total_revenue = (SELECT max(total_revenue) FROM rev)
            ORDER BY s_suppkey
        """,
        "q17_small_quantity_revenue": """
            WITH li AS (
              SELECT l_partkey, l_quantity, l_extendedprice
              FROM lineitem JOIN part ON l_partkey = p_partkey
              WHERE p_brand = 'Brand#2'
            ),
            thr AS (
              SELECT l_partkey AS t_partkey,
                     CAST(sum(CAST(floor(l_quantity * 10000 + 0.5) AS BIGINT))
                          AS DOUBLE) / count(*) / 10000.0 * 0.2 AS qty_thr
              FROM li GROUP BY 1
            )
            SELECT CAST(sum(CAST(floor(l_extendedprice * 10000 + 0.5) AS BIGINT))
                        AS BIGINT) / 10000.0 / 7.0 AS avg_yearly
            FROM li JOIN thr ON l_partkey = t_partkey
            WHERE l_quantity < qty_thr
        """,
        "q19_disjunctive_revenue": """
            SELECT CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 10000 + 0.5)
                                 AS BIGINT)) AS BIGINT) / 10000.0 AS revenue
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
                   AND l_quantity BETWEEN 1 AND 11)
               OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25
                   AND l_quantity BETWEEN 10 AND 20)
               OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35
                   AND l_quantity BETWEEN 20 AND 30)
        """,
        "q14_promo_revenue": """
            WITH j AS (
              SELECT CAST(floor(l_extendedprice * (1 - l_discount) * 10000 + 0.5) AS BIGINT) AS rev,
                     p_type = 'PROMO' AS promo
              FROM lineitem JOIN part ON l_partkey = p_partkey
              WHERE l_shipdate >= TIMESTAMP '1996-03-01 00:00:00'
                AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
            )
            SELECT floor(CAST(sum(CASE WHEN promo THEN rev ELSE 0 END) AS DOUBLE)
                         / CAST(sum(rev) AS DOUBLE) * 100.0 * 10000 + 0.5) / 10000.0
                     AS promo_revenue_pct,
                   CAST(sum(rev) AS BIGINT) / 10000.0 AS total_revenue
            FROM j
        """,
        "q21_waiting_supplier": """
            SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
            FROM supplier, lineitem l1, orders o, nation
            WHERE s_suppkey = l1.l_suppkey
              AND o.o_orderkey = l1.l_orderkey
              AND o.o_orderstatus = 'F'
              AND l1.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
              AND EXISTS (
                SELECT 1 FROM lineitem l2
                WHERE l2.l_orderkey = l1.l_orderkey
                  AND l2.l_suppkey <> l1.l_suppkey)
              AND NOT EXISTS (
                SELECT 1 FROM lineitem l3
                WHERE l3.l_orderkey = l1.l_orderkey
                  AND l3.l_suppkey <> l1.l_suppkey
                  AND l3.l_shipdate > o.o_orderdate + INTERVAL 90 DAY)
              AND s_nationkey = n_nationkey
              AND n_name = 'NATION_5'
            GROUP BY s_name
            ORDER BY numwait DESC, s_name
            LIMIT 100
        """,
        "q22_sales_opportunity": """
            WITH pool AS (
              SELECT c_custkey, c_nationkey, c_acctbal FROM customer
              WHERE c_nationkey IN (0, 3, 7, 11, 14, 18, 21)
            ),
            thr AS (
              SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE)
                       / count(*) AS avg_bal
              FROM pool WHERE c_acctbal > 0.0
            )
            SELECT c_nationkey AS cntrycode,
                   count(*) AS numcust,
                   CAST(sum(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS totacctbal
            FROM pool, thr
            WHERE c_acctbal > thr.avg_bal
              AND NOT EXISTS (
                SELECT 1 FROM orders
                WHERE o_custkey = pool.c_custkey
                  AND o_orderpriority = '1-URGENT')
            GROUP BY 1 ORDER BY 1
        """,
        "privacy_k_anonymity": f"""
            SELECT c_nationkey, c_mktsegment,
                   CAST(count(*) AS BIGINT) AS n,
                   count(*) >= {PRIVACY_K} AS k_anonymous,
                   CAST(count(DISTINCT CAST(floor(c_acctbal / 1000) AS BIGINT)) AS BIGINT) AS l_div,
                   count(DISTINCT CAST(floor(c_acctbal / 1000) AS BIGINT)) >= {PRIVACY_L} AS l_diverse
            FROM customer
            GROUP BY 1, 2
        """,
        "p3_value_map": """
            SELECT CASE l_returnflag
                     WHEN 'A' THEN 'accepted'
                     WHEN 'R' THEN 'returned'
                     WHEN 'N' THEN 'none'
                     ELSE l_returnflag END AS return_status,
                   count(*) AS n
            FROM lineitem GROUP BY 1 ORDER BY 1
        """,
        "f_predicates": """
            SELECT o_orderkey, o_orderstatus, o_orderpriority,
                   CAST(CAST(o_totalprice AS DECIMAL(18,4)) AS DOUBLE) AS o_totalprice
            FROM orders
            WHERE (o_totalprice > 150000.0
                   AND regexp_matches(o_orderpriority, '^(?:1-URGENT|2-HIGH)', 'i')
                   AND NOT o_orderstatus = 'P')
               OR o_totalprice <= 1000.0
        """,
        "a2_last_not_null": """
            SELECT l_orderkey,
                   strftime((max({'ln': l_linenumber, 'sd': l_shipdate})).sd, '%Y-%m-%d') AS last_ship,
                   strftime((min({'ln': l_linenumber, 'sd': l_shipdate})).sd, '%Y-%m-%d') AS first_ship,
                   CAST(max(l_linenumber) AS BIGINT) AS n_lines
            FROM lineitem GROUP BY l_orderkey
        """,
        "a3_combined_fold": """
            SELECT l_orderkey,
                   CAST(min(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS min_qty,
                   CAST(max(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS max_price,
                   array_to_string(list_sort(list_distinct(list(l_returnflag))), ',') AS flag_set
            FROM lineitem GROUP BY l_orderkey
        """,
        "r1_one_to_many": """
            SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
                   'returned' AS name, 1.0 AS value
            FROM lineitem WHERE l_returnflag = 'R'
            UNION ALL
            SELECT l_orderkey, CAST(l_linenumber AS BIGINT),
                   'high_discount', CAST(l_discount AS DOUBLE)
            FROM lineitem WHERE l_discount > 0.05
            UNION ALL
            SELECT l_orderkey, CAST(l_linenumber AS BIGINT),
                   'heavy', CAST(l_quantity AS DOUBLE)
            FROM lineitem WHERE l_quantity >= 40.0
        """,
        "p9_date_reformat": """
            SELECT o_orderkey, strftime(o_orderdate, '%d/%m/%Y') AS order_date_dmy
            FROM orders
        """,
        "p10_sensitive_hash": """
            SELECT c_custkey, sha256(c_name) AS name_hash FROM customer
        """,
        "t7_duration_days": """
            SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
                   CAST(date_diff('day', o_orderdate, l_shipdate) AS BIGINT) AS ship_delay_days
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        """,
        "p8_unit_convert": """
            SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
                   CASE WHEN l_linenumber % 2 = 1 THEN 'lb' ELSE 'kg' END AS source_unit,
                   round(CAST(CASE WHEN l_linenumber % 2 = 1
                              THEN l_quantity * 0.45359237 ELSE l_quantity END AS DOUBLE), 4) AS qty_kg
            FROM lineitem
        """,
        "t4_get_float": """
            SELECT o_orderkey,
                   CASE WHEN regexp_extract(o_orderpriority, '([-+]?\\d*\\.?\\d+)', 1) != ''
                        THEN CAST(regexp_extract(o_orderpriority, '([-+]?\\d*\\.?\\d+)', 1) AS DOUBLE)
                   END AS priority_num
            FROM orders
        """,
        "t10_make_date": """
            SELECT o_orderkey,
                   CAST(year(o_orderdate) AS BIGINT) AS y,
                   CAST(month(o_orderdate) AS BIGINT) AS m,
                   CAST(day(o_orderdate) AS BIGINT) AS d,
                   strftime(make_date(year(o_orderdate), month(o_orderdate), day(o_orderdate)), '%Y-%m-%d') AS rebuilt
            FROM orders
        """,
        "v2_validation_report": """
            WITH annotated AS (
              SELECT CASE
                       WHEN o_orderstatus NOT IN ('O', 'F', 'P')
                         THEN 'data.o_orderstatus must be one of [''O'', ''F'', ''P'']'
                       WHEN o_totalprice <= 1000.0 OR o_totalprice > 450000.0
                         THEN 'data.o_totalprice must be in range'
                     END AS adtl_error
              FROM orders
            )
            SELECT adtl_error IS NULL AS adtl_valid, adtl_error, count(*) AS n
            FROM annotated GROUP BY 1, 2 ORDER BY 1, 2
        """,
        "adtl_engine_typed": """
            SELECT l_orderkey AS order_id,
                   CAST(CAST(min(l_quantity) AS DOUBLE) AS VARCHAR) AS min_qty,
                   array_to_string(list_sort(list_distinct(list(
                     CASE l_returnflag WHEN 'A' THEN 'accepted'
                                       WHEN 'R' THEN 'returned'
                                       WHEN 'N' THEN 'none' END))), ',') AS flags,
                   CASE WHEN bool_or(l_returnflag = 'R') THEN 'True' ELSE 'False' END AS ever_returned
            FROM lineitem GROUP BY l_orderkey
        """,
        "adtl_engine_groupby": """
            SELECT l_orderkey AS order_id,
                   CAST(CAST(min(l_quantity) AS DOUBLE) AS VARCHAR) AS min_qty,
                   array_to_string(list_sort(list_distinct(list(
                     CASE l_returnflag WHEN 'A' THEN 'accepted'
                                       WHEN 'R' THEN 'returned'
                                       WHEN 'N' THEN 'none' END))), ',') AS flags,
                   CASE WHEN bool_or(l_returnflag = 'R') THEN 'True' ELSE 'False' END AS ever_returned
            FROM lineitem GROUP BY l_orderkey
        """,
        "adtl_engine_one_to_many": """
            SELECT o_orderkey AS order_id, 'fulfilled' AS name,
                   CASE o_orderstatus WHEN 'F' THEN 'yes' WHEN 'O' THEN 'no'
                                      WHEN 'P' THEN 'partial' END AS value
            FROM orders WHERE o_orderstatus != 'O'
            UNION ALL
            SELECT o_orderkey, 'urgent', 'flagged'
            FROM orders WHERE regexp_matches(o_orderpriority, '^(?:1-URGENT)', 'i')
        """,
        "t3_word_substitute": """
            WITH m AS (
              SELECT o_orderkey,
                     list_sort(list_distinct(list_filter([
                       CASE WHEN regexp_matches(o_orderpriority, '\\b(?:URGENT|HIGH)\\b', 'i') THEN 'expedite' END,
                       CASE WHEN regexp_matches(o_orderpriority, '\\b(?:LOW)\\b', 'i') THEN 'relaxed' END,
                       CASE WHEN regexp_matches(o_orderpriority, '\\b(?:MEDIUM)\\b', 'i') THEN 'normal' END
                     ], x -> x IS NOT NULL))) AS matches
              FROM orders
            )
            SELECT o_orderkey,
                   CASE WHEN len(matches) > 0 THEN array_to_string(matches, ',') END AS priority_class
            FROM m
        """,
        "p6_enum_list": """
            WITH cells AS (
              SELECT o_orderkey,
                     string_split(regexp_replace('[' || o_orderstatus || ', ' || o_orderpriority || ']',
                                                 '^\\[+|\\]+$', '', 'g'), ',') AS elements
              FROM orders
            )
            SELECT o_orderkey,
                   array_to_string(list_transform(elements, e ->
                     coalesce(CASE trim(e) WHEN 'O' THEN 'open' WHEN 'F' THEN 'fulfilled'
                                  WHEN 'P' THEN 'pending' WHEN '1-URGENT' THEN 'u'
                                  WHEN '2-HIGH' THEN 'h' WHEN '3-MEDIUM' THEN 'm'
                                  WHEN '4-NOT SPECIFIED' THEN 'n' WHEN '5-LOW' THEN 'l'
                     END, '?')), ',') AS mapped_list
            FROM cells
        """,
        "q3_shipping_priority": """
            SELECT l_orderkey, o_orderpriority,
                   sum(CAST(floor(l_extendedprice * (1 - l_discount) * 10000 + 0.5) AS BIGINT)) / 10000.0 AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            WHERE c_mktsegment = 'BUILDING'
              AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
            GROUP BY l_orderkey, o_orderpriority
            HAVING sum(CAST(floor(l_extendedprice * (1 - l_discount) * 10000 + 0.5) AS BIGINT)) / 10000.0 > 100000.0
        """,
        "dedup_apply_anti_join": """
            WITH clusters AS (
              SELECT sha256(text) AS text_hash, min(doc_id) AS canonical_id, count(*) AS n_copies
              FROM documents GROUP BY 1
            ),
            losers AS (
              SELECT d.doc_id
              FROM clusters c
              JOIN (SELECT sha256(text) AS text_hash, doc_id FROM documents) d USING (text_hash)
              WHERE c.n_copies > 1 AND d.doc_id != c.canonical_id
            )
            SELECT doc_id, lang, source FROM documents
            WHERE doc_id NOT IN (SELECT doc_id FROM losers)
        """,
        "w4_rolling_aggregate": """
            SELECT user_id, event_id,
                   round(avg(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                          ROWS BETWEEN 4 PRECEDING AND CURRENT ROW), 4) AS rolling_avg_5
            FROM events
        """,
        "w1_sessionize": """
            WITH gaps AS (
              SELECT user_id, event_id, ts,
                     epoch_ns(ts) - epoch_ns(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) AS gap
              FROM events
            ),
            flagged AS (
              SELECT user_id, event_id, ts,
                     CASE WHEN gap IS NULL OR gap > CAST(1800 AS BIGINT) * 1000000000 THEN 1 ELSE 0 END AS new_session
              FROM gaps
            ),
            sessions AS (
              SELECT user_id,
                     sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
              FROM flagged
            ),
            per_session AS (
              SELECT user_id, session_idx, count(*) AS n_events
              FROM sessions GROUP BY 1, 2
            )
            SELECT user_id, count(*) AS n_sessions, max(n_events) AS max_session_events
            FROM per_session GROUP BY user_id
        """,
        "w13_anomaly": """
            WITH stats AS (
              SELECT event_type,
                     CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS s,
                     CAST(sum(CAST(value * value AS DECIMAL(38,12))) AS DOUBLE) AS s2,
                     count(*) AS n
              FROM events WHERE value IS NOT NULL
              GROUP BY event_type
            ),
            st AS (
              SELECT event_type, s / n AS mean,
                     sqrt(s2 / n - (s / n) * (s / n)) AS std
              FROM stats
            )
            SELECT e.event_id, e.event_type, e.value,
                   floor((e.value - st.mean) / st.std * 10000 + 0.5) / 10000.0 AS z
            FROM events e JOIN st USING (event_type)
            WHERE e.value IS NOT NULL
              AND st.std > 0
              AND abs((e.value - st.mean) / st.std) > 3.0
            ORDER BY e.event_id
        """,
        "w12_transitions": """
            WITH steps AS (
              SELECT lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS src,
                     event_type AS dst
              FROM events
            ),
            cnt AS (
              SELECT src, dst, count(*) AS n FROM steps
              WHERE src IS NOT NULL GROUP BY 1, 2
            )
            SELECT src, dst, CAST(n AS BIGINT) AS n,
                   floor(CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY src) * 10000 + 0.5) / 10000.0 AS p
            FROM cnt
            ORDER BY src, dst
        """,
        "w11_scd2": """
            WITH ordered AS (
              SELECT user_id, event_type, epoch_ns(ts) AS tsn, event_id,
                     CASE WHEN lag(event_type) OVER w IS NULL
                            OR event_type <> lag(event_type) OVER w
                          THEN 1 ELSE 0 END AS changed
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            ),
            runs AS (
              SELECT user_id, event_type, tsn,
                     sum(changed) OVER (PARTITION BY user_id ORDER BY tsn, event_id
                                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_id
              FROM ordered
            ),
            per_run AS (
              SELECT user_id, run_id,
                     min(event_type) AS event_type,
                     min(tsn) AS valid_from,
                     count(*) AS n_events
              FROM runs GROUP BY 1, 2
            )
            SELECT user_id, event_type,
                   CAST(valid_from AS BIGINT) AS valid_from,
                   CAST(lead(valid_from) OVER (PARTITION BY user_id ORDER BY run_id) AS BIGINT) AS valid_to,
                   CAST(n_events AS BIGINT) AS n_events
            FROM per_run
            ORDER BY user_id, valid_from
        """,
        "w2_json_extract": """
            SELECT event_type,
                   CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
                   count(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS n_k
            FROM events GROUP BY event_type ORDER BY event_type
        """,
        "w3_topn_per_group": """
            WITH ranked AS (
              SELECT user_id, event_id, value,
                     row_number() OVER (PARTITION BY user_id ORDER BY value DESC, event_id ASC) AS rank
              FROM events
            )
            SELECT user_id, CAST(rank AS BIGINT) AS rank, event_id,
                   round(value, 4) AS value
            FROM ranked WHERE rank <= 3
        """,
        "w5_asof_join": """
            SELECT c.event_id, c.user_id,
                   epoch_us(c.ts) AS ts_us,
                   v.event_id AS view_event_id,
                   round(v.value, 4) AS view_value
            FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click') c
            LEFT JOIN (SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'view') v
              ON v.user_id = c.user_id AND v.ts <= c.ts
            QUALIFY row_number() OVER (
              PARTITION BY c.event_id ORDER BY v.ts DESC, v.event_id DESC
            ) = 1
        """,
        "w7_asof_forward": """
            SELECT c.event_id, c.user_id,
                   epoch_us(c.ts) AS ts_us,
                   v.event_id AS view_event_id,
                   round(v.value, 4) AS view_value
            FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click') c
            LEFT JOIN (SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'view') v
              ON v.user_id = c.user_id AND v.ts >= c.ts
            QUALIFY row_number() OVER (
              PARTITION BY c.event_id ORDER BY v.ts ASC, v.event_id ASC
            ) = 1
        """,
        # nearest: rank every same-user view by |dt|; equal distance prefers
        # the preceding view, then latest-id among preceding / earliest-id
        # among following — the same tie rules the union+window encoding
        # applies per side (event_id is numeric, so the negation flips order)
        "w8_asof_nearest": """
            SELECT c.event_id, c.user_id,
                   epoch_us(c.ts) AS ts_us,
                   v.event_id AS view_event_id,
                   round(v.value, 4) AS view_value
            FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click') c
            LEFT JOIN (SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'view') v
              ON v.user_id = c.user_id
            QUALIFY row_number() OVER (
              PARTITION BY c.event_id ORDER BY
                abs(epoch_ns(v.ts) - epoch_ns(c.ts)) ASC,
                (epoch_ns(v.ts) > epoch_ns(c.ts)) ASC,
                CASE WHEN epoch_ns(v.ts) <= epoch_ns(c.ts)
                     THEN -v.event_id ELSE v.event_id END ASC
            ) = 1
        """,
        "w9_funnel": """
            WITH e AS (
              SELECT user_id, event_id, epoch_ns(ts) AS tns, event_type
              FROM events
            ),
            s1 AS (
              SELECT *,
                     min(CASE WHEN event_type = 'view' THEN tns END) OVER (
                       PARTITION BY user_id ORDER BY tns, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                     ) AS ta
              FROM e
            ),
            s2 AS (
              SELECT *,
                     min(CASE WHEN event_type = 'click' AND ta IS NOT NULL
                              THEN tns END) OVER (
                       PARTITION BY user_id ORDER BY tns, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                     ) AS tb
              FROM s1
            ),
            per_user AS (
              SELECT user_id,
                     min(CASE WHEN event_type = 'view' THEN tns END) AS t_view,
                     min(CASE WHEN event_type = 'click' AND ta IS NOT NULL
                              THEN tns END) AS t_click,
                     min(CASE WHEN event_type = 'purchase' AND tb IS NOT NULL
                              THEN tns END) AS t_purchase
              FROM s2 GROUP BY 1
            )
            SELECT user_id,
                   t_view // 1000 AS t_view_us,
                   t_click // 1000 AS t_click_us,
                   t_purchase // 1000 AS t_purchase_us,
                   CAST(CASE WHEN t_purchase IS NOT NULL THEN 3
                             WHEN t_click IS NOT NULL THEN 2
                             WHEN t_view IS NOT NULL THEN 1
                             ELSE 0 END AS BIGINT) AS steps_completed
            FROM per_user
        """,
        "text_pmi_topk": X.pmi_topk_oracle_sql(
            "documents", k=PMI_K, min_count=PMI_MIN_COUNT
        ),
        "corpus_length_filter": X.length_filter_iqr_oracle_sql("documents"),
        "corpus_length_quantiles_hist": X.length_quantiles_histogram_oracle_sql(
            "documents", bin_width=HIST_BIN_W
        ),
        "pipeline_corpus_assemble": f"""
            WITH norm AS (
              SELECT doc_id, lang, source, {X.normalize_expr_sql("text")} AS text
              FROM documents
            ),
            lens AS (
              SELECT doc_id, lang, source,
                     CAST(len(toks) AS BIGINT) AS n_tokens,
                     CAST(len(list_distinct(toks)) AS BIGINT) AS priority
              FROM (
                SELECT *, list_filter(string_split_regex(lower(text), '\\s+'), t -> t != '') AS toks
                FROM norm
              )
            ),
            ranked AS (
              SELECT lang, doc_id, n_tokens,
                     row_number() OVER (PARTITION BY lang ORDER BY n_tokens, doc_id) AS rn,
                     count(*) OVER (PARTITION BY lang) AS cnt
              FROM lens
            ),
            q AS (
              SELECT lang,
                     max(CASE WHEN rn = (cnt + 3) // 4 THEN n_tokens END) AS p25,
                     max(CASE WHEN rn = (3 * cnt + 3) // 4 THEN n_tokens END) AS p75
              FROM ranked GROUP BY 1
            ),
            kept AS (
              SELECT l.* FROM lens l JOIN q USING (lang)
              WHERE 2 * l.n_tokens >= 2 * q.p25 - 3 * (q.p75 - q.p25)
                AND 2 * l.n_tokens <= 2 * q.p75 + 3 * (q.p75 - q.p25)
            ),
            sampled AS (
              SELECT * FROM kept
              WHERE {SA.mixture_sample_where_sql(MIXTURE_WEIGHTS, default=MIXTURE_DEFAULT)}
            ),
            cum AS (
              SELECT doc_id, priority, n_tokens,
                     CAST(SUM(n_tokens) OVER (
                       ORDER BY priority DESC, doc_id ASC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                     ) AS BIGINT) AS cum_tokens
              FROM sampled
            ),
            sel AS (SELECT * FROM cum WHERE cum_tokens <= {TOKEN_BUDGET})
            SELECT doc_id, priority, n_tokens, cum_tokens,
                   CAST(row_number() OVER (
                     ORDER BY {SA._keyed_hash_sql("doc_id", "shuffle")}, doc_id
                   ) AS BIGINT) AS shuffle_pos
            FROM sel
        """,
        "corpus_zipf": X.zipf_fit_oracle_sql("documents", k=VOCAB_K),
        "layout_zorder_key": _layout_zorder_oracle_sql(),
        "emb_jl_project": S.jl_project_oracle_sql(
            "embeddings", k=16, dim=EMB_DIM
        ),
        "w16_gapfill_linear": """
            WITH daily AS (
              SELECT user_id, day, v FROM (
                SELECT user_id, CAST(ts AS DATE) AS day, value AS v,
                       row_number() OVER (
                         PARTITION BY user_id, CAST(ts AS DATE)
                         ORDER BY ts DESC, event_id DESC
                       ) AS rn
                FROM events
              ) WHERE rn = 1
            ),
            pos AS (
              SELECT user_id,
                     date_diff('day',
                       min(day) OVER (PARTITION BY user_id), day) AS pos,
                     v
              FROM daily
            ),
            grid AS (
              SELECT p.user_id, CAST(unnest(range(0, mx + 1)) AS BIGINT) AS pos
              FROM (SELECT user_id, max(pos) AS mx FROM pos GROUP BY 1) p
            ),
            j AS (
              SELECT g.user_id, g.pos, p.v
              FROM grid g LEFT JOIN pos p USING (user_id, pos)
            ),
            w AS (
              SELECT user_id, pos, v,
                     last_value(v IGNORE NULLS) OVER (
                       PARTITION BY user_id ORDER BY pos
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                     ) AS pv,
                     last_value(CASE WHEN v IS NOT NULL THEN pos END
                                IGNORE NULLS) OVER (
                       PARTITION BY user_id ORDER BY pos
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                     ) AS pp,
                     first_value(v IGNORE NULLS) OVER (
                       PARTITION BY user_id ORDER BY pos
                       ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING
                     ) AS nv,
                     first_value(CASE WHEN v IS NOT NULL THEN pos END
                                 IGNORE NULLS) OVER (
                       PARTITION BY user_id ORDER BY pos
                       ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING
                     ) AS np
              FROM j
            )
            SELECT user_id, pos,
                   CAST(floor(
                     CASE WHEN v IS NOT NULL THEN CAST(v AS DOUBLE)
                          WHEN pv IS NULL THEN CAST(nv AS DOUBLE)
                          WHEN nv IS NULL THEN CAST(pv AS DOUBLE)
                          ELSE CAST(pv AS DOUBLE)
                               + (CAST(nv AS DOUBLE) - CAST(pv AS DOUBLE))
                                 * CAST(pos - pp AS DOUBLE)
                                 / CAST(np - pp AS DOUBLE)
                     END * 1000000 + 0.5) AS BIGINT) AS filled_q,
                   v IS NOT NULL AS observed
            FROM w ORDER BY user_id, pos
        """,
        "w15_gapfill": """
            WITH daily AS (
              SELECT user_id, day, v FROM (
                SELECT user_id, CAST(ts AS DATE) AS day, value AS v,
                       row_number() OVER (
                         PARTITION BY user_id, CAST(ts AS DATE)
                         ORDER BY ts DESC, event_id DESC
                       ) AS rn
                FROM events
              ) WHERE rn = 1
            ),
            span AS (
              SELECT user_id, min(day) AS lo, max(day) AS hi
              FROM daily GROUP BY 1
            ),
            grid AS (
              SELECT user_id,
                     CAST(unnest(range(CAST(lo AS TIMESTAMP),
                                       CAST(hi AS TIMESTAMP) + INTERVAL 1 DAY,
                                       INTERVAL 1 DAY)) AS DATE) AS day
              FROM span
            ),
            j AS (
              SELECT g.user_id, g.day, d.v
              FROM grid g LEFT JOIN daily d USING (user_id, day)
            )
            SELECT user_id, day,
                   last_value(v IGNORE NULLS) OVER (
                     PARTITION BY user_id ORDER BY day
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS value,
                   v IS NOT NULL AS observed
            FROM j ORDER BY user_id, day
        """,
        "olap_unpivot": """
            WITH wide AS (
              SELECT lang,
                     CAST(count(*) FILTER (source = 'src0') AS BIGINT) AS src0,
                     CAST(count(*) FILTER (source = 'src1') AS BIGINT) AS src1,
                     CAST(count(*) FILTER (source = 'src2') AS BIGINT) AS src2,
                     CAST(count(*) FILTER (source = 'src3') AS BIGINT) AS src3
              FROM documents
              WHERE source IN ('src0', 'src1', 'src2', 'src3')
              GROUP BY lang
            )
            SELECT lang, source, n_docs
            FROM wide
            UNPIVOT (n_docs FOR source IN (src0, src1, src2, src3))
            ORDER BY lang, source
        """,
        "pipeline_curriculum": f"""
            WITH stats AS (
              SELECT min(n_chars) AS lo, max(n_chars) AS hi FROM documents
            ),
            b AS (
              SELECT doc_id,
                     least(3, ((n_chars - lo) * 4) // greatest(1, hi - lo + 1))
                       AS bucket
              FROM documents CROSS JOIN stats
            )
            SELECT doc_id, CAST(bucket AS BIGINT) AS bucket,
                   CAST(row_number() OVER (
                     PARTITION BY bucket
                     ORDER BY {SA._keyed_hash_sql("doc_id", "curriculum")}, doc_id
                   ) AS BIGINT) AS bucket_pos
            FROM b ORDER BY bucket, bucket_pos
        """,
        "sample_temperature": SA.temperature_sample_oracle_sql(
            "SELECT * FROM documents",
            select="doc_id, text, lang, source, n_chars",
        )
        + " ORDER BY doc_id",
        "graph_triangles": G.triangle_count_cooccurrence_oracle_sql(
            "SELECT l_orderkey AS g, l_suppkey AS m FROM lineitem",
            top_edges=TRIANGLE_TOP_EDGES,
        ),
        "multimodal_frame_sample": """
            WITH meta AS (
              SELECT doc_id AS media_id,
                     (n_chars * 40 * 24) // 1000 AS n_frames
              FROM documents
            ),
            s AS (
              SELECT media_id, unnest(range(0,
                least(8, CASE WHEN n_frames > 0
                              THEN (n_frames - 1) // 24 + 1
                              ELSE 0 END))) AS i
              FROM meta
            )
            SELECT media_id,
                   CAST(i * 24 AS BIGINT) AS frame_idx,
                   CAST((i * 24 * 1000) // 24 AS BIGINT) AS t_ms
            FROM s ORDER BY media_id, frame_idx
        """,
        "w14_rank_functions": """
            SELECT doc_id, lang, n_chars,
                   percent_rank() OVER w AS pct_rank,
                   cume_dist() OVER w AS cume,
                   CAST(ntile(4) OVER w AS BIGINT) AS quartile
            FROM documents
            WINDOW w AS (PARTITION BY lang ORDER BY n_chars, doc_id)
        """,
        "text_heavy_hitters": SK.heavy_hitters_oracle_sql(
            """SELECT unnest(
                 list_filter(string_split_regex(lower(text), '\\s+'), t -> t != '')
               ) AS item FROM documents""",
            k=150,
        ),
        # the PPM layout arithmetic the decoder must recover: header
        # "P6\n{w} {h}\n255\n" + w*h*3 pixel bytes, dims from doc_id
        # DSIR / PSI / KMV / containment: the operator modules own their
        # oracle twins (same constants, same quantization) — composed here
        # with the gate's parameters
        "corpus_dsir_select": SA.dsir_select_oracle_sql(
            "documents", "lang = 'en'", top_n=100, n_buckets=512
        ),
        "quality_psi_drift": MO.psi_drift_oracle_sql(
            "documents",
            "doc_id % 2 = 0",
            "doc_id % 2 = 1",
            "LEAST(n_chars // 100, 7)",
            n_buckets=8,
        ),
        "sketch_quantile_bottomk": SK.quantile_bottomk_oracle_sql(
            "SELECT doc_id, n_chars, source FROM documents",
            "doc_id",
            "n_chars",
            "source",
            k=256,
            group_name="source",
        ),
        "sketch_hll_rollup": SK.hll_rollup_oracle_sql(
            """SELECT source, unnest(
                 list_filter(string_split_regex(lower(text), '\\s+'), t -> t != '')
               ) AS token FROM documents""",
            "token",
            "source",
            "source",
        ),
        "layout_shard_manifest": _io_shard_manifest_oracle(),
        "profile_key_skew": _profile_skew_oracle(),
        "quality_vocab_js": MO.vocab_js_drift_oracle_sql(
            "documents", "doc_id % 2 = 0", "doc_id % 2 = 1", vocab_k=64
        ),
        "layout_range_bounds": SK.range_bounds_oracle_sql(
            "SELECT doc_id, n_chars FROM documents",
            "doc_id",
            "n_chars",
            n_ranges=8,
            k=256,
        ),
        "quality_pr_curve": C.pr_curve_oracle_sql(
            "SELECT s.nb_score, (d.source IN ("
            + ", ".join(f"'{s}'" for s in C.NB_CURATED_SOURCES)
            + ")) AS label FROM ("
            + C.nb_quality_oracle_sql(
                "SELECT doc_id, text, source FROM documents",
                "source IN ("
                + ", ".join(f"'{s}'" for s in C.NB_CURATED_SOURCES)
                + ")",
                vocab_k=50,
            )
            + ") s JOIN documents d USING (doc_id)",
            "label",
            "nb_score",
            n_bins=32,
        ),
        "quality_roc_auc": C.roc_auc_oracle_sql(
            "SELECT s.nb_score, (d.source IN ("
            + ", ".join(f"'{s}'" for s in C.NB_CURATED_SOURCES)
            + ")) AS label FROM ("
            + C.nb_quality_oracle_sql(
                "SELECT doc_id, text, source FROM documents",
                "source IN ("
                + ", ".join(f"'{s}'" for s in C.NB_CURATED_SOURCES)
                + ")",
                vocab_k=50,
            )
            + ") s JOIN documents d USING (doc_id)",
            "label",
            "nb_score",
        ),
        "sketch_kmv_overlap": SK.kmv_overlap_oracle_sql(
            "SELECT unnest(list_filter(string_split_regex(lower(text), '\\s+'),"
            " t -> t != '')) AS v FROM documents WHERE doc_id % 2 = 0",
            "SELECT unnest(list_filter(string_split_regex(lower(text), '\\s+'),"
            " t -> t != '')) AS v FROM documents WHERE doc_id % 2 = 1",
            k=128,
        ),
        "text_containment": D.containment_pairs_oracle_sql(
            "documents", threshold=0.6, n=3
        ),
        "quality_ks_drift": MO.ks_drift_oracle_sql(
            "documents", "doc_id % 2 = 0", "doc_id % 2 = 1", "n_chars"
        ),
        "graph_entity_resolution": FZ.entity_resolution_oracle_sql(
            "SELECT s_suppkey, s_name, s_nationkey FROM supplier",
            "s_suppkey",
            "s_name",
            block_col="s_nationkey",
        ),
        # the decode+DSP pipeline replayed per sample: same mix constants
        # as multimodal.synthetic_wav_arith, same sign convention, RMS via
        # exact-int sum(s^2) then correctly-rounded /n and sqrt
        "multimodal_audio_features": """
            WITH base AS (
              SELECT doc_id, 160 * (1 + doc_id % 30) AS n FROM documents
            ),
            v AS (
              SELECT doc_id, n,
                     unnest(generate_series(0, CAST(n - 1 AS BIGINT))) AS i
              FROM base
            ),
            x AS (
              SELECT doc_id, n, i,
                     ((doc_id * 2654435761 + i * 40503) % 65536) - 32768 AS s,
                     CASE WHEN i = 0 THEN NULL
                          ELSE ((doc_id * 2654435761 + (i - 1) * 40503) % 65536)
                               - 32768
                     END AS prev
              FROM v
            )
            SELECT doc_id AS media_id,
                   CAST(max(n) AS BIGINT) AS n_samples,
                   CAST(max(abs(s)) AS BIGINT) AS peak,
                   CAST(sum(abs(s)) AS BIGINT) AS sum_abs,
                   CAST(sum(CASE WHEN prev IS NOT NULL
                                  AND ((s >= 0) != (prev >= 0))
                            THEN 1 ELSE 0 END) AS BIGINT) AS zero_crossings,
                   CAST(floor(sqrt(CAST(sum(s * s) AS DOUBLE) / max(n))
                              * 1000000 + 0.5) AS BIGINT) AS rms_q6
            FROM x GROUP BY doc_id
        """,
        # the resize chain replayed per OUTPUT pixel: output (y,x) channel c
        # reads input flat byte j = ((2y)*w + 2x)*3 + c with the arithmetic
        # pixel pattern of multimodal.synthetic_ppm_arith
        "multimodal_image_resize": """
            WITH dims AS (
              SELECT doc_id,
                     8 + doc_id % 16 AS w,
                     (8 + doc_id % 16 + 1) // 2 AS ow,
                     (8 + (doc_id * 3) % 16 + 1) // 2 AS oh
              FROM documents
            ),
            px AS (
              SELECT doc_id, w, ow, oh,
                     unnest(generate_series(0, CAST(ow * oh - 1 AS BIGINT))) AS p
              FROM dims
            ),
            j AS (
              SELECT doc_id, ow, oh, p,
                     ((p // ow) * 2 * w + (p % ow) * 2) * 3 AS jj
              FROM px
            ),
            c AS (
              SELECT doc_id, ow, oh, p,
                     (doc_id * 31 + jj * 131) % 256 AS r,
                     (doc_id * 31 + (jj + 1) * 131) % 256 AS g,
                     (doc_id * 31 + (jj + 2) * 131) % 256 AS b
              FROM j
            )
            SELECT doc_id AS media_id,
                   CAST(max(ow) AS BIGINT) AS width,
                   CAST(max(oh) AS BIGINT) AS height,
                   CAST(sum(r) AS BIGINT) AS sum_r,
                   CAST(sum(g) AS BIGINT) AS sum_g,
                   CAST(sum(b) AS BIGINT) AS sum_b,
                   CAST(sum((p + 1) * (r + 2 * g + 3 * b)) AS BIGINT) AS checksum
            FROM c GROUP BY doc_id
        """,
        # the PNG chain replayed per OUTPUT pixel: identical structure to
        # multimodal_image_resize but over the RGBA byte stream (stride 4,
        # alpha byte jj+3 dropped by the decoder) and the PNG gate's own
        # dimension arithmetic
        "multimodal_png_resize": """
            WITH dims AS (
              SELECT doc_id,
                     8 + (doc_id * 5) % 16 AS w,
                     (8 + (doc_id * 5) % 16 + 1) // 2 AS ow,
                     (8 + (doc_id * 7) % 16 + 1) // 2 AS oh
              FROM documents
            ),
            px AS (
              SELECT doc_id, w, ow, oh,
                     unnest(generate_series(0, CAST(ow * oh - 1 AS BIGINT))) AS p
              FROM dims
            ),
            j AS (
              SELECT doc_id, ow, oh, p,
                     ((p // ow) * 2 * w + (p % ow) * 2) * 4 AS jj
              FROM px
            ),
            c AS (
              SELECT doc_id, ow, oh, p,
                     (doc_id * 31 + jj * 131) % 256 AS r,
                     (doc_id * 31 + (jj + 1) * 131) % 256 AS g,
                     (doc_id * 31 + (jj + 2) * 131) % 256 AS b
              FROM j
            )
            SELECT doc_id AS media_id,
                   CAST(max(ow) AS BIGINT) AS width,
                   CAST(max(oh) AS BIGINT) AS height,
                   CAST(sum(r) AS BIGINT) AS sum_r,
                   CAST(sum(g) AS BIGINT) AS sum_g,
                   CAST(sum(b) AS BIGINT) AS sum_b,
                   CAST(sum((p + 1) * (r + 2 * g + 3 * b)) AS BIGINT) AS checksum
            FROM c GROUP BY doc_id
        """,
        "wet_extract": _wet_extract_oracle(),
        # lossy codec: dims value-checked exactly; the error bound is the
        # pinned invariant (see the query docstring)
        "multimodal_jpeg_roundtrip": """
            SELECT doc_id AS media_id,
                   CAST(16 + (doc_id * 3) % 17 AS BIGINT) AS width,
                   CAST(16 + (doc_id * 5) % 13 AS BIGINT) AS height,
                   TRUE AS ok
            FROM documents ORDER BY doc_id
        """,
        "multimodal_dhash_pairs": _dhash_pairs_oracle(),
        # lossy 4-bit codec: the sample count is the exact value check
        # (block math + fact trim), the error envelope the pinned
        # invariant (query docstring)
        "multimodal_adpcm_roundtrip": """
            SELECT doc_id AS media_id,
                   CAST(505 * (1 + doc_id % 3) + (doc_id % 97) AS BIGINT)
                     AS n_samples,
                   CAST(16000 AS INT) AS sample_rate,
                   TRUE AS ok
            FROM documents ORDER BY doc_id
        """,
        "multimodal_g711_roundtrip": """
            SELECT doc_id AS media_id,
                   CAST(400 * (1 + doc_id % 4) + (doc_id % 89) AS BIGINT)
                     AS n_samples,
                   CAST(8000 AS INT) AS sample_rate,
                   CASE WHEN doc_id % 2 = 0 THEN 'ulaw' ELSE 'alaw' END
                     AS law,
                   TRUE AS ok
            FROM documents ORDER BY doc_id
        """,
        # lossless codec: the oracle replays the decoded SAMPLES (sum),
        # not just counts — any reconstruction error moves the hash
        "multimodal_flac_roundtrip": """
            WITH d AS (
              SELECT doc_id,
                     300 * (1 + doc_id % 3) + (doc_id % 53) AS n,
                     1 + (doc_id % 2) AS ch
              FROM documents
            ),
            i AS (
              SELECT doc_id, n, ch,
                     unnest(generate_series(0, CAST(n - 1 AS BIGINT))) AS i
              FROM d
            ),
            s AS (
              SELECT doc_id, n, ch,
                     ((i * (13 + doc_id % 7) + doc_id) % 4001) - 2000 AS l,
                     CASE WHEN ch = 2
                          THEN ((i * 17 + doc_id * 3) % 3001) - 1500
                          ELSE 0 END AS r
              FROM i
            )
            SELECT doc_id AS media_id,
                   CAST(MAX(n) * MAX(ch) AS BIGINT) AS n_samples,
                   CAST(16000 AS INT) AS sample_rate,
                   CAST(MAX(ch) AS INT) AS channels,
                   CAST(SUM(l + r) AS BIGINT) AS pcm_sum,
                   TRUE AS compressed
            FROM s GROUP BY doc_id ORDER BY media_id
        """,
        # header-arithmetic probe: frame lengths, integer-duration math
        # and the ID3 skip all replayed exactly
        "multimodal_mp3_probe": """
            WITH d AS (
              SELECT doc_id,
                     40 + doc_id % 17 AS nf,
                     CASE doc_id % 3 WHEN 0 THEN 44100
                                     WHEN 1 THEN 48000
                                     ELSE 32000 END AS rate,
                     doc_id % 2 = 1 AS vbr,
                     CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 2 END AS ch,
                     10 + doc_id % 40 AS id3
              FROM documents
            ),
            f AS (
              SELECT doc_id, nf, rate, vbr, ch, id3,
                     unnest(generate_series(0, CAST(nf - 1 AS BIGINT))) AS f
              FROM d
            ),
            k AS (
              SELECT doc_id, nf, rate, vbr, ch, id3,
                     CASE WHEN vbr THEN
                            CASE f % 3 WHEN 0 THEN 64
                                       WHEN 1 THEN 80
                                       ELSE 96 END
                          ELSE 128 END AS kbps
              FROM f
            )
            SELECT doc_id AS media_id,
                   CAST(MAX(nf) AS BIGINT) AS n_frames,
                   CAST(MAX(rate) AS INT) AS sample_rate,
                   CAST(MAX(ch) AS INT) AS channels,
                   CAST(MAX(nf) * ((1152 * 1000000) // MAX(rate)) // 1000
                        AS BIGINT) AS duration_ms,
                   CAST(SUM((144000 * kbps) // rate) AS BIGINT)
                     AS total_bytes,
                   CAST(SUM(kbps) // MAX(nf) AS BIGINT) AS avg_kbps,
                   BOOL_OR(vbr) AS vbr,
                   CAST(MAX(id3) AS BIGINT) AS id3v2_bytes
            FROM k GROUP BY doc_id ORDER BY media_id
        """,
        # flip+crop index map O(y',x') = I(y0+y', W-1-x0-x') replayed
        # per pixel; checksum pins stride order, not just multisets
        "multimodal_image_augment": """
            WITH dims AS (
              SELECT doc_id,
                     8 + doc_id % 16 AS w,
                     8 + (doc_id * 3) % 16 AS h,
                     doc_id * 7 + 3 AS seed
              FROM documents
            ),
            c AS (
              SELECT doc_id, w, h, seed,
                     w // 4 AS x0, h // 4 AS y0,
                     w // 2 AS cw, h // 2 AS ch
              FROM dims
            ),
            px AS (
              SELECT doc_id, w, seed, x0, y0, cw, ch,
                     unnest(generate_series(0, CAST(cw * ch - 1 AS BIGINT)))
                       AS p
              FROM c
            ),
            q AS (
              SELECT doc_id, cw, ch, p, seed,
                     ((y0 + p // cw) * w + (w - 1 - x0 - (p % cw))) AS q
              FROM px
            ),
            b AS (
              SELECT doc_id, cw, ch, p,
                     (seed * 31 + (3 * q + 0) * 131) % 256 AS r,
                     (seed * 31 + (3 * q + 1) * 131) % 256 AS g,
                     (seed * 31 + (3 * q + 2) * 131) % 256 AS bb
              FROM q
            )
            SELECT doc_id AS media_id,
                   CAST(MAX(cw) AS INT) AS width,
                   CAST(MAX(ch) AS INT) AS height,
                   CAST(SUM(r) AS BIGINT) AS sum_r,
                   CAST(SUM(g) AS BIGINT) AS sum_g,
                   CAST(SUM(bb) AS BIGINT) AS sum_b,
                   CAST(SUM((p + 1) * (r + 2 * g + 3 * bb)) AS BIGINT)
                     AS checksum
            FROM b GROUP BY doc_id ORDER BY media_id
        """,
        # tag byte-accounting: 10 header + (10+1+6+len(id)) + (10+1+8)
        "multimodal_id3_tags": """
            SELECT doc_id AS media_id,
                   'title-' || CAST(doc_id AS VARCHAR) AS title,
                   'artist-' || CAST(doc_id % 7 AS VARCHAR) AS artist,
                   CAST(3 + doc_id % 5 AS BIGINT) AS n_frames,
                   CAST(46 + length(CAST(doc_id AS VARCHAR)) AS BIGINT)
                     AS id3_bytes
            FROM documents ORDER BY media_id
        """,
        # decode + integer floor rescale replayed sample-for-sample
        "multimodal_audio_normalize": """
            WITH d AS (
              SELECT doc_id,
                     300 * (1 + doc_id % 3) + (doc_id % 53) AS n
              FROM documents
            ),
            s AS (
              SELECT doc_id, n,
                     ((i * (13 + doc_id % 7) + doc_id) % 4001) - 2000 AS v
              FROM (
                SELECT doc_id, n,
                       unnest(generate_series(0, CAST(n - 1 AS BIGINT))) AS i
                FROM d
              )
            ),
            pk AS (
              SELECT doc_id, n, MAX(abs(v)) AS peak FROM s GROUP BY 1, 2
            )
            SELECT s.doc_id AS media_id,
                   CAST(MAX(pk.peak) AS BIGINT) AS peak,
                   CAST(MAX(s.n) AS BIGINT) AS n_samples,
                   -- numpy // FLOORS; DuckDB // truncates, so negative
                   -- samples floor via the ceil-of-negation identity
                   CAST(SUM(CASE WHEN s.v >= 0
                                 THEN (s.v * 30000) // pk.peak
                                 ELSE -(((-s.v) * 30000 + pk.peak - 1)
                                        // pk.peak) END) AS BIGINT)
                     AS pcm_sum
            FROM s JOIN pk ON s.doc_id = pk.doc_id
            GROUP BY s.doc_id ORDER BY media_id
        """,
        "multimodal_dhash_recall": _dhash_recall_oracle(),
        # every output pixel = floor over 4 of its 2x2 block's byte sum,
        # q = 0..3 encoding (dy, dx) = (q // 2, q % 2)
        "multimodal_image_resize_box": """
            WITH dims AS (
              SELECT doc_id,
                     8 + doc_id % 16 AS w,
                     (8 + doc_id % 16) // 2 AS ow,
                     (8 + (doc_id * 3) % 16) // 2 AS oh
              FROM documents
            ),
            px AS (
              SELECT doc_id, w, ow, oh,
                     unnest(generate_series(0, CAST(ow * oh - 1 AS BIGINT))) AS p
              FROM dims
            ),
            blk AS (
              SELECT doc_id, w, ow, oh, p,
                     unnest(generate_series(0, CAST(3 AS BIGINT))) AS q
              FROM px
            ),
            j AS (
              SELECT doc_id, ow, oh, p,
                     (((p // ow) * 2 + q // 2) * w
                      + (p % ow) * 2 + (q % 2)) * 3 AS jj
              FROM blk
            ),
            s AS (
              SELECT doc_id, ow, oh, p,
                     sum((doc_id * 31 + jj * 131) % 256) // 4 AS r,
                     sum((doc_id * 31 + (jj + 1) * 131) % 256) // 4 AS g,
                     sum((doc_id * 31 + (jj + 2) * 131) % 256) // 4 AS b
              FROM j GROUP BY 1, 2, 3, 4
            )
            SELECT doc_id AS media_id,
                   CAST(max(ow) AS BIGINT) AS width,
                   CAST(max(oh) AS BIGINT) AS height,
                   CAST(sum(r) AS BIGINT) AS sum_r,
                   CAST(sum(g) AS BIGINT) AS sum_g,
                   CAST(sum(b) AS BIGINT) AS sum_b,
                   CAST(sum((p + 1) * (r + 2 * g + 3 * b)) AS BIGINT)
                     AS checksum
            FROM s GROUP BY doc_id
        """,
        # exact-dup cliques make the CC fixpoint a window min; the split
        # is the same keyed-hash CASE the plain split oracle uses
        "sample_split_leakage_safe": f"""
            WITH k AS (
              SELECT doc_id,
                     CAST(min(doc_id) OVER (PARTITION BY text) AS BIGINT)
                       AS split_key
              FROM documents
            )
            SELECT doc_id, split_key,
                   {SA.train_test_split_case_sql(
                       {"train": 0.8, "test": 0.2}, "split_key"
                   )} AS split
            FROM k ORDER BY doc_id
        """,
        # every resampled sample replayed from the generator arithmetic
        # (floor of the 2-sample mean), then the full DSP reduction —
        # prev recomputed from k-1 (no window), the audio_features style
        "multimodal_audio_resample": """
            WITH base AS (
              SELECT doc_id, 80 * (1 + doc_id % 30) AS m FROM documents
            ),
            v AS (
              SELECT doc_id, m,
                     unnest(generate_series(0, CAST(m - 1 AS BIGINT))) AS k
              FROM base
            ),
            x AS (
              SELECT doc_id, m, k,
                CAST(floor(
                  ((((doc_id * 2654435761 + (2 * k) * 40503) % 65536) - 32768)
                   + (((doc_id * 2654435761 + (2 * k + 1) * 40503) % 65536)
                      - 32768)) / 2.0) AS BIGINT) AS s,
                CASE WHEN k = 0 THEN NULL ELSE
                  CAST(floor(
                    ((((doc_id * 2654435761 + (2 * k - 2) * 40503) % 65536)
                      - 32768)
                     + (((doc_id * 2654435761 + (2 * k - 1) * 40503) % 65536)
                        - 32768)) / 2.0) AS BIGINT)
                END AS prev
              FROM v
            )
            SELECT doc_id AS media_id,
                   CAST(max(m) AS BIGINT) AS n_samples,
                   CAST(max(abs(s)) AS BIGINT) AS peak,
                   CAST(sum(abs(s)) AS BIGINT) AS sum_abs,
                   CAST(sum(CASE WHEN prev IS NOT NULL
                                  AND ((s >= 0) != (prev >= 0))
                            THEN 1 ELSE 0 END) AS BIGINT) AS zero_crossings,
                   CAST(floor(sqrt(CAST(sum(s * s) AS DOUBLE) / max(m))
                              * 1000000 + 0.5) AS BIGINT) AS rms_q6
            FROM x GROUP BY doc_id
        """,
        # identical VAD arithmetic to multimodal_audio_vad, over the
        # soundtrack that survived the AVI interleave + demux + rewrap
        "multimodal_avi_soundtrack_vad": """
            WITH base AS (
              SELECT doc_id, 320 * (2 + doc_id % 8) + (doc_id % 5) AS n
              FROM documents
            ),
            v AS (
              SELECT doc_id, n,
                     unnest(generate_series(0, CAST(n - 1 AS BIGINT))) AS i
              FROM base
            ),
            s AS (
              SELECT doc_id, i // 160 AS f,
                     CASE WHEN (i // 320) % 3 = 0 THEN 0
                          ELSE ((doc_id * 2654435761 + i * 40503) % 65536)
                               - 32768
                     END AS s
              FROM v WHERE i < 160 * (n // 160)
            ),
            fr AS (SELECT doc_id, f, sum(abs(s)) AS e FROM s GROUP BY 1, 2),
            agg AS (
              SELECT doc_id,
                CAST(count(*) AS BIGINT) AS n_frames,
                CAST(sum(CASE WHEN e > 160000 THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_speech,
                CAST(min(CASE WHEN e > 160000 THEN f END) AS BIGINT)
                  AS first_speech,
                CAST(max(CASE WHEN e > 160000 THEN f END) AS BIGINT)
                  AS last_speech
              FROM fr GROUP BY doc_id
            )
            SELECT doc_id AS media_id, n_frames, n_speech,
                   first_speech, last_speech,
                   CAST(COALESCE((last_speech - first_speech + 1) * 160, 0)
                        AS BIGINT) AS trimmed_samples
            FROM agg ORDER BY media_id
        """,
        # the AVI gate's schedule arithmetic: nf frames at 4 fps ->
        # duration nf*250 ms, one sample per 500 ms, frame index 2k
        "multimodal_video_frames_avi": """
            WITH d AS (
              SELECT doc_id, 4 + doc_id % 5 AS nf,
                     CAST(16 + (doc_id * 3) % 17 AS BIGINT) AS w,
                     CAST(16 + (doc_id * 5) % 13 AS BIGINT) AS h
              FROM documents
            ),
            s AS (
              SELECT doc_id, nf, w, h, k
              FROM d, LATERAL (
                SELECT unnest(generate_series(
                  CAST(0 AS BIGINT),
                  greatest(nf * 250 // 500, 1) - 1)) AS k) g
            )
            SELECT doc_id AS media_id,
                   CAST(least(nf - 1, 2 * k) AS BIGINT) AS frame_idx,
                   CAST(k * 500 AS BIGINT) AS ts_ms,
                   w AS width, h AS height, TRUE AS ok
            FROM s ORDER BY media_id, frame_idx
        """,
        # the sampling schedule (duration-derived, ts*fps//1000 frame
        # index) and each sampled frame's pixel stats replayed per pixel
        "multimodal_video_frames": """
            WITH f AS (
              SELECT doc_id, 4 + doc_id % 5 AS nf,
                     8 + doc_id % 6 AS w, 8 + (doc_id * 3) % 5 AS h
              FROM documents
            ),
            kk AS (
              SELECT doc_id, nf, w, h,
                     unnest(generate_series(0,
                       CAST(greatest((nf * 250) // 500, 1) - 1 AS BIGINT))) AS k
              FROM f
            ),
            fr AS (
              SELECT doc_id, w, h, least(2 * k, nf - 1) AS fi FROM kk
            ),
            px AS (
              SELECT doc_id, w, h, fi, doc_id * 7 + fi AS seed,
                     unnest(generate_series(0, CAST(w * h - 1 AS BIGINT))) AS p
              FROM fr
            ),
            c AS (
              SELECT doc_id, w, h, fi, p,
                     (seed * 31 + (p * 3) * 131) % 256 AS r,
                     (seed * 31 + (p * 3 + 1) * 131) % 256 AS g,
                     (seed * 31 + (p * 3 + 2) * 131) % 256 AS b
              FROM px
            )
            SELECT CAST(doc_id * 1000 + fi AS BIGINT) AS media_id,
                   CAST(max(w) AS BIGINT) AS width,
                   CAST(max(h) AS BIGINT) AS height,
                   CAST(sum(r) AS BIGINT) AS sum_r,
                   CAST(sum(g) AS BIGINT) AS sum_g,
                   CAST(sum(b) AS BIGINT) AS sum_b,
                   CAST(sum((p + 1) * (r + 2 * g + 3 * b)) AS BIGINT)
                     AS checksum
            FROM c GROUP BY doc_id, fi ORDER BY media_id
        """,
        # pack->unpack identity: the tar layer must be byte-transparent
        # both MM rounds replayed in CTE algebra, 6-decimal parity
        # same shingle CTE as the dedup/decontaminate twins; reference
        # members must score exactly zero novelty
        "corpus_ngram_novelty": f"""
            WITH tr AS ({D.shingle_cte_sql('documents', 3)}),
            rf AS (
              SELECT DISTINCT sh FROM (
                {D.shingle_cte_sql(
                    '(SELECT doc_id, text FROM documents '
                    'WHERE doc_id % 3 = 0)', 3)}
              )
            ),
            per AS (
              SELECT tr.id,
                     CAST(count(*) AS BIGINT) AS n_ngrams,
                     CAST(sum(CASE WHEN rf.sh IS NULL THEN 1 ELSE 0 END)
                          AS BIGINT) AS n_novel
              FROM tr LEFT JOIN rf ON tr.sh = rf.sh
              GROUP BY tr.id
            )
            SELECT d.doc_id, per.n_ngrams, per.n_novel,
                   CAST(per.n_novel * 1000000 // per.n_ngrams AS BIGINT)
                     AS novelty_ppm
            FROM documents d LEFT JOIN per ON per.id = d.doc_id
            ORDER BY d.doc_id
        """,
        # every sample replayed from the closed form; the integer clip
        # verdict (count at |s| >= 32700 and its ppm) must be exact
        "multimodal_audio_clipping": """
            WITH base AS (
              SELECT doc_id, 320 * (2 + doc_id % 9) + (doc_id % 7) AS n
              FROM documents
            ),
            v AS (
              SELECT doc_id, n,
                     unnest(generate_series(0, CAST(n - 1 AS BIGINT))) AS i
              FROM base
            ),
            s AS (
              SELECT doc_id, n,
                     abs(((doc_id * 2654435761 + i * 40503) % 65536)
                         - 32768) AS a
              FROM v
            )
            SELECT doc_id AS media_id,
                   CAST(max(n) AS BIGINT) AS n_samples,
                   CAST(max(a) AS BIGINT) AS peak,
                   CAST(sum(CASE WHEN a >= 32700 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_clipped,
                   CAST(sum(CASE WHEN a >= 32700 THEN 1 ELSE 0 END)
                        * 1000000 // max(n) AS BIGINT) AS clip_ppm
            FROM s GROUP BY doc_id ORDER BY media_id
        """,
        # every interior pixel's five grayscale taps recomputed from the
        # arithmetic-P6 closed form; |4g - up - down - left - right|
        # summed — decode, weights, and stencil all exact
        "multimodal_image_sharpness": f"""
            WITH dims AS (
              SELECT doc_id, doc_id * 7 + 3 AS seed,
                     6 + doc_id % 6 AS W, 5 + (doc_id * 3) % 5 AS H
              FROM documents
            ),
            ys AS (
              SELECT doc_id, seed, W,
                     unnest(generate_series(1, CAST(H - 2 AS BIGINT))) AS y
              FROM dims
            ),
            px AS (
              SELECT doc_id, seed, W, y,
                     unnest(generate_series(1, CAST(W - 3 AS BIGINT) + 1))
                       AS x
              FROM ys
            ),
            lap AS (
              SELECT doc_id,
                     abs(4 * {_sharp_gray_sql('y', 'x')}
                         - {_sharp_gray_sql('y - 1', 'x')}
                         - {_sharp_gray_sql('y + 1', 'x')}
                         - {_sharp_gray_sql('y', 'x - 1')}
                         - {_sharp_gray_sql('y', 'x + 1')}) AS v
              FROM px
            )
            SELECT doc_id AS media_id,
                   CAST(count(*) AS BIGINT) AS n_interior,
                   CAST(sum(v) AS BIGINT) AS lap_sum,
                   CAST(sum(v) // count(*) AS BIGINT) AS lap_mean
            FROM lap GROUP BY doc_id ORDER BY media_id
        """,
        # every script count and the dominant CASE chain rebuilt from
        # the same id arithmetic the fixture text was built from — a
        # Java-vs-RE2 script-class disagreement cannot hash-match
        "text_script_profile": """
            WITH c AS (
              SELECT doc_id,
                     CASE WHEN doc_id % 7 = 0 THEN 0
                          ELSE 2 * (1 + doc_id % 3) END AS l,
                     2 * (doc_id % 2) AS c,
                     CASE WHEN doc_id % 5 = 0 THEN 3 ELSE 0 END AS h,
                     0 AS a,
                     CASE WHEN doc_id % 4 = 1 THEN 4 ELSE 0 END AS g
              FROM documents
            )
            SELECT doc_id,
                   CAST(l + c + h + g + 5 AS BIGINT) AS n_chars,
                   CAST(l AS BIGINT) AS n_latin,
                   CAST(c AS BIGINT) AS n_cyrillic,
                   CAST(h AS BIGINT) AS n_han,
                   CAST(a AS BIGINT) AS n_arabic,
                   CAST(g AS BIGINT) AS n_greek,
                   CASE WHEN greatest(l, c, h, a, g) = 0 THEN 'none'
                        WHEN l = greatest(l, c, h, a, g) THEN 'latin'
                        WHEN c = greatest(l, c, h, a, g) THEN 'cyrillic'
                        WHEN h = greatest(l, c, h, a, g) THEN 'han'
                        WHEN a = greatest(l, c, h, a, g) THEN 'arabic'
                        ELSE 'greek' END AS dominant
            FROM c ORDER BY doc_id
        """,
        # the identically-constructed DECOMPOSED string through DuckDB's
        # nfc_normalize; composed text and both codepoint counts exact
        "text_nfc_normalize": """
            WITH t AS (
              SELECT doc_id,
                     repeat('e' || chr(769), CAST(1 + doc_id % 4 AS INTEGER))
                       || 'x' || CAST(doc_id AS VARCHAR) AS raw
              FROM documents
            )
            SELECT doc_id,
                   nfc_normalize(raw) AS text_nfc,
                   CAST(length(raw) AS BIGINT) AS n_chars_before,
                   CAST(length(nfc_normalize(raw)) AS BIGINT) AS n_chars_after
            FROM t ORDER BY doc_id
        """,
        # same match log as Bradley-Terry; the Wilson expression is
        # replayed in the identical IEEE-double shape
        "pref_winrate_wilson": f"""
            WITH p AS (
              SELECT event_id,
                     event_id % 20 AS a,
                     (event_id // 20) % 20 AS b
              FROM events
              WHERE event_id % 20 <> (event_id // 20) % 20
            ),
            pw AS (
              SELECT CASE WHEN event_id % 4 <> 0 THEN greatest(a, b)
                          ELSE least(a, b) END AS w,
                     CASE WHEN event_id % 4 <> 0 THEN least(a, b)
                          ELSE greatest(a, b) END AS l
              FROM p
            ),
            e AS (
              SELECT w AS item, 1 AS win FROM pw
              UNION ALL SELECT l AS item, 0 AS win FROM pw
            ),
            per AS (
              SELECT item,
                     CAST(count(*) AS BIGINT) AS games,
                     CAST(sum(win) AS BIGINT) AS wins
              FROM e GROUP BY 1
            ),
            x AS (
              SELECT item, games, wins,
                     CAST(games AS DOUBLE) AS n,
                     CAST(wins AS DOUBLE) / CAST(games AS DOUBLE) AS pr
              FROM per
            )
            SELECT item, games, wins,
                   CAST(floor(pr * 1000000 + 0.5) AS BIGINT) AS winrate_q6,
                   CAST(floor(
                     ((pr + {1.96 * 1.96!r} / (2.0 * n)
                       - 1.96 * sqrt(pr * (1.0 - pr) / n
                                     + {1.96 * 1.96!r} / (4.0 * n * n)))
                      / (1.0 + {1.96 * 1.96!r} / n)) * 1000000 + 0.5
                   ) AS BIGINT) AS wilson_lo_q6
            FROM x ORDER BY item
        """,
        "pref_bradley_terry": """
            WITH p AS (
              SELECT event_id,
                     event_id % 20 AS a,
                     (event_id // 20) % 20 AS b
              FROM events
              WHERE event_id % 20 <> (event_id // 20) % 20
            ),
            pw AS (
              SELECT CASE WHEN event_id % 4 <> 0 THEN greatest(a, b)
                          ELSE least(a, b) END AS w,
                     CASE WHEN event_id % 4 <> 0 THEN least(a, b)
                          ELSE greatest(a, b) END AS l
              FROM p
            ),
            wij AS (SELECT w AS i, l AS j, count(*) AS c
                    FROM pw GROUP BY 1, 2),
            games AS (
              SELECT i, j, SUM(c) AS n_ij FROM (
                SELECT i, j, c FROM wij
                UNION ALL SELECT j AS i, i AS j, c FROM wij
              ) GROUP BY 1, 2
            ),
            wins AS (SELECT i, SUM(c) AS wins FROM wij GROUP BY 1),
            items AS (SELECT DISTINCT i FROM games),
            s0 AS (SELECT i, 1.0 AS s FROM items),
            d1 AS (
              SELECT g.i, SUM(g.n_ij / (si.s + sj.s)) AS d
              FROM games g
              JOIN s0 si ON si.i = g.i
              JOIN s0 sj ON sj.i = g.j
              GROUP BY g.i
            ),
            r1 AS (
              SELECT items.i, COALESCE(wins.wins, 0) / d1.d AS s
              FROM items
              LEFT JOIN wins ON wins.i = items.i
              JOIN d1 ON d1.i = items.i
            ),
            s1 AS (
              SELECT i, s * (SELECT count(*) FROM items)
                         / (SELECT SUM(s) FROM r1) AS s
              FROM r1
            ),
            d2 AS (
              SELECT g.i, SUM(g.n_ij / (si.s + sj.s)) AS d
              FROM games g
              JOIN s1 si ON si.i = g.i
              JOIN s1 sj ON sj.i = g.j
              GROUP BY g.i
            ),
            r2 AS (
              SELECT items.i, COALESCE(wins.wins, 0) / d2.d AS s
              FROM items
              LEFT JOIN wins ON wins.i = items.i
              JOIN d2 ON d2.i = items.i
            ),
            s2 AS (
              SELECT i, s * (SELECT count(*) FROM items)
                         / (SELECT SUM(s) FROM r2) AS s
              FROM r2
            ),
            tg AS (SELECT i, SUM(n_ij) AS games FROM games GROUP BY i)
            SELECT s2.i AS item,
                   CAST(floor(s2.s * 1000000 + 0.5) AS BIGINT)
                     AS strength_q6,
                   CAST(COALESCE(wins.wins, 0) AS BIGINT) AS wins,
                   CAST(tg.games AS BIGINT) AS games
            FROM s2
            LEFT JOIN wins ON wins.i = s2.i
            JOIN tg ON tg.i = s2.i
            ORDER BY item
        """,
        # contingency-table algebra at 6-decimal parity
        "pref_rater_kappa": """
            WITH lab AS (
              SELECT event_id // 5 AS item,
                     event_id % 5 AS rater,
                     CAST(FLOOR(value * 10) AS BIGINT) % 4 AS label
              FROM events
            ),
            co AS (
              SELECT a.item, a.rater AS ra, b.rater AS rb,
                     a.label AS la, b.label AS lb
              FROM lab a JOIN lab b USING (item)
              WHERE a.rater < b.rater
            ),
            tot AS (
              SELECT ra, rb, count(*) AS n_items,
                     SUM(CASE WHEN la = lb THEN 1 ELSE 0 END) AS agree
              FROM co GROUP BY 1, 2
            ),
            ma AS (SELECT ra, rb, la AS lbl, count(*) AS na
                   FROM co GROUP BY 1, 2, 3),
            mb AS (SELECT ra, rb, lb AS lbl, count(*) AS nb
                   FROM co GROUP BY 1, 2, 3),
            pe AS (
              SELECT ma.ra, ma.rb, SUM(na * nb) AS pe_num
              FROM ma JOIN mb ON ma.ra = mb.ra AND ma.rb = mb.rb
                              AND ma.lbl = mb.lbl
              GROUP BY 1, 2
            )
            , rates AS (
              SELECT tot.ra, tot.rb, n_items,
                     agree * 1.0 / n_items AS po,
                     pe_num * 1.0 / (n_items * n_items) AS pe
              FROM tot JOIN pe ON tot.ra = pe.ra AND tot.rb = pe.rb
            )
            SELECT ra AS rater_a, rb AS rater_b,
                   CAST(n_items AS BIGINT) AS n_items,
                   CAST(floor(po * 1000000 + 0.5) AS BIGINT) AS po_q6,
                   CAST(floor(pe * 1000000 + 0.5) AS BIGINT) AS pe_q6,
                   -- pe=1 guard mirrors the engine (pairwise_kappa emits
                   -- NULL kappa for a degenerate single-label rater pair)
                   CASE WHEN pe < 1.0 THEN
                     CAST(floor((po - pe) / (1.0 - pe) * 1000000 + 0.5)
                          AS BIGINT)
                   END AS kappa_q6
            FROM rates
            ORDER BY rater_a, rater_b
        """,
        "pref_krippendorff": """
            WITH lab AS (
              SELECT event_id // 5 AS item,
                     event_id % 5 AS rater,
                     CAST(FLOOR(value * 10) AS BIGINT) % 4 AS label
              FROM events WHERE event_id % 3 <> 0
            ),
            il AS (SELECT item, label, count(*) AS n_uc
                   FROM lab GROUP BY 1, 2),
            per AS (SELECT item, SUM(n_uc) AS m,
                           SUM(n_uc * n_uc) AS sq
                    FROM il GROUP BY 1),
            stats AS (
              SELECT SUM(CASE WHEN m >= 2 THEN 1 ELSE 0 END) AS n_units,
                     SUM(CASE WHEN m >= 2 THEN m ELSE 0 END) AS n,
                     SUM(CASE WHEN m >= 2 THEN
                           CAST(floor((m * m - sq) * 1.0 / (m - 1)
                                      * 1000000 + 0.5) AS BIGINT)
                         ELSE 0 END) AS do_q6,
                     SUM(CASE WHEN m < 2 THEN 1 ELSE 0 END) AS n_excluded
              FROM per
            ),
            nc AS (
              SELECT il.label, SUM(il.n_uc) AS nc
              FROM il JOIN per ON il.item = per.item AND per.m >= 2
              GROUP BY 1
            ),
            ncsq AS (SELECT SUM(nc * nc) AS ncsq FROM nc)
            SELECT CAST(n_units AS BIGINT) AS n_units,
                   CAST(n AS BIGINT) AS n_ratings,
                   CAST(do_q6 AS BIGINT) AS do_q6_sum,
                   CAST(floor((1.0 - ((do_q6 / 1000000.0) / n)
                               / ((n * n - ncsq) * 1.0 / (n * (n - 1.0))))
                              * 1000000 + 0.5) AS BIGINT) AS alpha_q6,
                   CAST(n_excluded AS BIGINT) AS n_excluded
            FROM stats, ncsq
        """,
        "pref_fleiss_kappa": """
            WITH lab AS (
              SELECT event_id // 5 AS item,
                     event_id % 5 AS rater,
                     CAST(FLOOR(value * 10) AS BIGINT) % 4 AS label
              FROM events
            ),
            il AS (SELECT item, label, count(*) AS n_ik
                   FROM lab GROUP BY 1, 2),
            per AS (SELECT item, SUM(n_ik) AS n,
                           SUM(n_ik * n_ik) AS sq
                    FROM il GROUP BY 1),
            kept AS (SELECT * FROM per WHERE n = 5),
            stats AS (
              SELECT count(*) AS n_items,
                     AVG((sq - 5.0) / 20.0) AS p_bar
              FROM kept
            ),
            pk AS (
              SELECT label, SUM(n_ik) AS nk
              FROM il JOIN kept USING (item) GROUP BY 1
            ),
            pe AS (
              SELECT SUM(POWER(nk * 1.0 / (SELECT SUM(nk) FROM pk), 2))
                       AS p_e
              FROM pk
            ),
            exc AS (SELECT count(*) AS n_excluded FROM per WHERE n <> 5)
            SELECT CAST(n_items AS BIGINT) AS n_items,
                   CAST(5 AS INT) AS n_raters,
                   CAST(floor(p_bar * 1000000 + 0.5) AS BIGINT) AS p_bar_q6,
                   CAST(floor(p_e * 1000000 + 0.5) AS BIGINT) AS p_e_q6,
                   CAST(floor((p_bar - p_e) / (1.0 - p_e) * 1000000 + 0.5)
                        AS BIGINT) AS kappa_q6,
                   CAST(n_excluded AS BIGINT) AS n_excluded
            FROM stats, pe, exc
        """,
        # write->extract identity: page slices replayed with substr
        "doc_pdf_extract": """
            WITH d AS (
              SELECT doc_id, text, 1 + doc_id % 3 AS np FROM documents
            ),
            p AS (
              SELECT doc_id, np, text,
                     unnest(generate_series(0, CAST(np - 1 AS BIGINT))) AS p
              FROM d
            ),
            pg AS (
              SELECT doc_id, np, p,
                     substr(text, CAST(1 + 40 * p AS BIGINT), 40) AS pt
              FROM p
            )
            SELECT doc_id,
                   CAST(MAX(np) AS BIGINT) AS n_pages,
                   COALESCE(string_agg(pt, chr(10) ORDER BY p), '') AS text,
                   CAST(length(COALESCE(string_agg(pt, chr(10) ORDER BY p),
                                        '')) AS BIGINT) AS n_chars
            FROM pg GROUP BY doc_id ORDER BY doc_id
        """,
        # exact rates/dims from arithmetic; the fidelity booleans ARE
        # the invariant (tone frequency + RMS recovered from the decode)
        "multimodal_mp2_decode": """
            SELECT doc_id AS media_id,
                   CAST(48000 AS INTEGER) AS sample_rate,
                   CAST(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 2 END
                        AS INTEGER) AS channels,
                   CAST(2304 AS BIGINT) AS n_samples,
                   TRUE AS freq_ok,
                   TRUE AS rms_ok
            FROM documents ORDER BY doc_id
        """,
        # simple-font /Encoding extraction: sanitized slices + the
        # WinAnsi/Differences specials page decoded to an exact string
        "doc_pdf_encoding": """
            WITH d AS (
              SELECT doc_id, text, 1 + doc_id % 2 AS np FROM documents
            ),
            p AS (
              SELECT doc_id, np, text,
                     unnest(generate_series(0, CAST(np AS BIGINT))) AS p
              FROM d
            ),
            pg AS (
              SELECT doc_id, np, p,
                     CASE WHEN p < np THEN regexp_replace(
                       substr(text, CAST(1 + 40 * p AS BIGINT), 40),
                       '[^ -~]', '', 'g'
                     ) ELSE 'café ☃ ' || chr(8220) || 'ok' || chr(8221)
                            || ' ' || chr(8364) || chr(8212) END AS pt
              FROM p
            )
            SELECT doc_id,
                   CAST(MAX(np) + 1 AS BIGINT) AS n_pages,
                   COALESCE(string_agg(pt, chr(10) ORDER BY p), '') AS text,
                   CAST(length(COALESCE(string_agg(pt, chr(10) ORDER BY p),
                                        '')) AS BIGINT) AS n_chars
            FROM pg GROUP BY doc_id ORDER BY doc_id
        """,
        # CID/Type0 extraction: ASCII-sanitized page slices plus the
        # CMap-specials line, all rebuilt with substr/regexp arithmetic
        "doc_pdf_cid": """
            WITH d AS (
              SELECT doc_id, text, 1 + doc_id % 2 AS np FROM documents
            ),
            p AS (
              SELECT doc_id, np, text,
                     unnest(generate_series(0, CAST(np AS BIGINT))) AS p
              FROM d
            ),
            pg AS (
              SELECT doc_id, np, p,
                     CASE WHEN p < np THEN regexp_replace(
                       substr(text, CAST(1 + 40 * p AS BIGINT), 40),
                       '[^ -~]', '', 'g'
                     ) ELSE 'é fi †‡• marks' END AS pt
              FROM p
            )
            SELECT doc_id,
                   CAST(MAX(np) + 1 AS BIGINT) AS n_pages,
                   COALESCE(string_agg(pt, chr(10) ORDER BY p), '') AS text,
                   CAST(length(COALESCE(string_agg(pt, chr(10) ORDER BY p),
                                        '')) AS BIGINT) AS n_chars
            FROM pg GROUP BY doc_id ORDER BY doc_id
        """,
        # encrypted-PDF extraction: the decrypt chain must be an exact
        # identity on the page slices; handler method from id % 3
        "doc_pdf_encrypted": """
            WITH d AS (
              SELECT doc_id, text, 1 + doc_id % 2 AS np FROM documents
            ),
            p AS (
              SELECT doc_id, np, text,
                     unnest(generate_series(0, CAST(np - 1 AS BIGINT))) AS p
              FROM d
            ),
            pg AS (
              SELECT doc_id, np, p,
                     substr(text, CAST(1 + 48 * p AS BIGINT), 48) AS pt
              FROM p
            )
            SELECT doc_id,
                   CAST(MAX(np) AS BIGINT) AS n_pages,
                   COALESCE(string_agg(pt, chr(10) ORDER BY p), '') AS text,
                   CAST(length(COALESCE(string_agg(pt, chr(10) ORDER BY p),
                                        '')) AS BIGINT) AS n_chars,
                   CASE doc_id % 3 WHEN 0 THEN 'rc4-40' WHEN 1 THEN 'rc4'
                                   ELSE 'aesv2' END AS method
            FROM pg GROUP BY doc_id ORDER BY doc_id
        """,
        # LSF / low-rate fixture cycle: (rate, channels) from id % 4;
        # every fixture decodes to exactly two 1152-sample frames
        "multimodal_mp2_lsf": """
            SELECT doc_id AS media_id,
                   CAST(CASE doc_id % 4 WHEN 0 THEN 24000 WHEN 1 THEN 16000
                        WHEN 2 THEN 48000 ELSE 32000 END
                        AS INTEGER) AS sample_rate,
                   CAST(CASE WHEN doc_id % 4 IN (0, 2) THEN 1 ELSE 2 END
                        AS INTEGER) AS channels,
                   CAST(2304 AS BIGINT) AS n_samples,
                   TRUE AS freq_ok,
                   TRUE AS rms_ok
            FROM documents ORDER BY doc_id
        """,
        # 4:1:1 / 4:2:2 progressive-vs-baseline parity: dims from id
        # arithmetic, byte-exactness and sharpness agreement pinned TRUE
        "multimodal_jpeg_411": """
            SELECT doc_id AS media_id,
                   CAST(14 + doc_id % 11 AS BIGINT) AS width,
                   CAST(9 + (doc_id * 5) % 13 AS BIGINT) AS height,
                   TRUE AS exact,
                   TRUE AS sharp_match
            FROM documents ORDER BY doc_id
        """,
        # auto-banding: values must equal the ONE-WINDOW replay even
        # though the physical plan switched to banded
        "web_frontier_auto": """
            WITH u AS (
              SELECT doc_id,
                     'h' || CAST(CASE WHEN doc_id % 3 = 0 THEN 0
                                      ELSE 1 + doc_id % 7 END AS VARCHAR)
                     || '.test' AS host,
                     'http://h' || CAST(CASE WHEN doc_id % 3 = 0 THEN 0
                                             ELSE 1 + doc_id % 7
                                        END AS VARCHAR)
                     || '.test/p/' || CAST(doc_id AS VARCHAR) AS url
              FROM documents
            ),
            s AS (
              SELECT doc_id, host,
                     CAST(row_number() OVER (
                       PARTITION BY host ORDER BY url
                     ) AS BIGINT) AS fetch_seq,
                     CASE host WHEN 'h0.test' THEN 200
                               WHEN 'h3.test' THEN 650
                               ELSE 1100 END AS delay
              FROM u
            )
            SELECT doc_id, host, fetch_seq,
                   CAST((fetch_seq - 1) * delay AS BIGINT) AS fetch_after_ms
            FROM s ORDER BY doc_id
        """,
        # deterministic dims; the exactness booleans ARE the invariant
        # (progressive decode == baseline decode of the same pixels)
        "multimodal_jpeg_progressive": """
            SELECT doc_id AS media_id,
                   CAST(12 + doc_id % 13 AS BIGINT) AS width,
                   CAST(10 + (doc_id * 3) % 11 AS BIGINT) AS height,
                   TRUE AS exact,
                   TRUE AS sharp_match
            FROM documents ORDER BY doc_id
        """,
        # same substr arithmetic as the classic gate; the modern layout
        # (ObjStm + xref stream + predictor rows) must extract identically
        "doc_pdf_extract_modern": """
            WITH d AS (
              SELECT doc_id, text, 1 + doc_id % 3 AS np FROM documents
            ),
            p AS (
              SELECT doc_id, np, text,
                     unnest(generate_series(0, CAST(np - 1 AS BIGINT))) AS p
              FROM d
            ),
            pg AS (
              SELECT doc_id, np, p,
                     substr(text, CAST(1 + 40 * p AS BIGINT), 40) AS pt
              FROM p
            )
            SELECT doc_id,
                   CAST(MAX(np) AS BIGINT) AS n_pages,
                   COALESCE(string_agg(pt, chr(10) ORDER BY p), '') AS text,
                   CAST(length(COALESCE(string_agg(pt, chr(10) ORDER BY p),
                                        '')) AS BIGINT) AS n_chars,
                   doc_id % 2 = 0 AS predictor,
                   doc_id % 3 = 0 AS objstm_len
            FROM pg GROUP BY doc_id ORDER BY doc_id
        """,
        # exact byte accounting; the ratio ORDER is the pinned invariant
        "quality_compression_ratio": """
            SELECT doc_id,
                   CAST(length(text) AS BIGINT) AS n_bytes,
                   CAST(length(substr(text, 1, 40)) * 10 AS BIGINT)
                     AS rep_bytes,
                   TRUE AS rep_compresses_better
            FROM documents ORDER BY doc_id
        """,
        # every (loc, lastmod) rebuilt from id arithmetic; odd entries
        # pin the optional-field NULL contract
        "web_sitemap_parse": """
            WITH e AS (
              SELECT doc_id,
                     unnest(generate_series(0, CAST(2 AS BIGINT))) AS k
              FROM documents
            )
            SELECT doc_id,
                   CAST(k AS BIGINT) AS url_pos,
                   'http://corpus.test/doc/' || CAST(doc_id AS VARCHAR)
                       || '-' || CAST(k AS VARCHAR) AS loc,
                   CASE WHEN k % 2 = 0 THEN
                     '2024-01-' || lpad(CAST(1 + (doc_id + k) % 27
                                             AS VARCHAR), 2, '0')
                   END AS lastmod
            FROM e ORDER BY doc_id, url_pos
        """,
        # mixed urlset/sitemapindex: kind, loc (entity-decoded), and the
        # per-kind optional lastmod all rebuilt from id arithmetic
        "web_sitemap_index": """
            WITH e AS (
              SELECT doc_id,
                     unnest(generate_series(0, CAST(1 AS BIGINT))) AS k
              FROM documents
            )
            SELECT doc_id,
                   CAST(k AS BIGINT) AS entry_pos,
                   CASE WHEN doc_id % 3 = 0 THEN 'sitemap'
                        ELSE 'url' END AS kind,
                   CASE WHEN doc_id % 3 = 0 THEN
                     'http://corpus.test/sm/' || CAST(doc_id AS VARCHAR)
                       || '-' || CAST(k AS VARCHAR) || '.xml?a=1&b='
                       || CAST(doc_id AS VARCHAR)
                   ELSE
                     'http://corpus.test/doc/' || CAST(doc_id AS VARCHAR)
                       || '?k=' || CAST(k AS VARCHAR) || '&t=''q'''
                   END AS loc,
                   CASE WHEN doc_id % 3 = 0 AND k = 0 THEN
                     '2024-02-' || lpad(CAST(1 + (doc_id + k) % 27
                                             AS VARCHAR), 2, '0')
                   WHEN doc_id % 3 <> 0 AND k = 1 THEN
                     '2024-03-' || lpad(CAST(1 + (doc_id + k) % 27
                                             AS VARCHAR), 2, '0')
                   END AS lastmod
            FROM e ORDER BY doc_id, entry_pos
        """,
        # host extraction + portable md5-60 shard + row_number FIFO +
        # broadcast delay join, all replayed in SQL
        "web_frontier_politeness": f"""
            WITH u AS (
              SELECT doc_id,
                     'h' || CAST(doc_id % 7 AS VARCHAR) || '.test' AS host,
                     'http://H' || CAST(doc_id % 7 AS VARCHAR)
                       || '.test/p/' || CAST(doc_id AS VARCHAR) AS url
              FROM documents
            ),
            s AS (
              SELECT doc_id, host,
                     CAST({D.md5_60_sql("host")} % 64 AS INTEGER) AS shard,
                     CAST(row_number() OVER (
                       PARTITION BY host ORDER BY url
                     ) AS BIGINT) AS fetch_seq,
                     CASE doc_id % 7 WHEN 0 THEN 500 WHEN 1 THEN 1000
                                     WHEN 2 THEN 1500 ELSE 2000
                     END AS delay
              FROM u
            )
            SELECT doc_id, host, shard, fetch_seq,
                   CAST((fetch_seq - 1) * delay AS BIGINT) AS fetch_after_ms
            FROM s ORDER BY doc_id
        """,
        # the banded plan must reproduce the ONE-WINDOW row_number the
        # oracle computes — exact equivalence is the operator's claim
        "web_frontier_banded": """
            WITH u AS (
              SELECT doc_id,
                     'h' || CAST(CASE WHEN doc_id % 2 = 0 THEN 0
                                      ELSE doc_id % 11 END AS VARCHAR)
                     || '.test' AS host,
                     'http://h' || CAST(CASE WHEN doc_id % 2 = 0 THEN 0
                                             ELSE doc_id % 11 END AS VARCHAR)
                     || '.test/p/' || CAST(doc_id AS VARCHAR) AS url
              FROM documents
            ),
            s AS (
              SELECT doc_id, host,
                     CAST(row_number() OVER (
                       PARTITION BY host ORDER BY url
                     ) AS BIGINT) AS fetch_seq,
                     CASE WHEN host = 'h0.test' THEN 300 ELSE 900
                     END AS delay
              FROM u
            )
            SELECT doc_id, host, fetch_seq,
                   CAST((fetch_seq - 1) * delay AS BIGINT) AS fetch_after_ms
            FROM s ORDER BY doc_id
        """,
        # priority scheduling: same row_number replay, ordered by the
        # priority column; decorated authorities (userinfo / port / case)
        # all collapse to the bare host and take its delay
        "web_frontier_priority": """
            WITH u AS (
              SELECT doc_id, n_chars,
                     'h' || CAST(doc_id % 5 AS VARCHAR) || '.test' AS host,
                     CASE doc_id % 10
                       WHEN 3 THEN 'http://crawler@h'
                            || CAST(doc_id % 5 AS VARCHAR)
                            || '.test/p/' || CAST(doc_id AS VARCHAR)
                       WHEN 7 THEN 'http://H' || CAST(doc_id % 5 AS VARCHAR)
                            || '.test:8080/p/' || CAST(doc_id AS VARCHAR)
                       ELSE 'http://h' || CAST(doc_id % 5 AS VARCHAR)
                            || '.test/p/' || CAST(doc_id AS VARCHAR)
                     END AS url
              FROM documents
            ),
            s AS (
              SELECT doc_id, host,
                     CAST(row_number() OVER (
                       PARTITION BY host ORDER BY n_chars DESC, url
                     ) AS BIGINT) AS fetch_seq,
                     CASE doc_id % 5 WHEN 0 THEN 250 WHEN 1 THEN 750
                                     ELSE 1500 END AS delay
              FROM u
            )
            SELECT doc_id, host, fetch_seq,
                   CAST((fetch_seq - 1) * delay AS BIGINT) AS fetch_after_ms
            FROM s ORDER BY doc_id
        """,
        # four charset classes (header utf-8 / header cp1252 / BOM-only
        # utf-16-le / meta-only latin-1): canonical charset name and the
        # exact non-ASCII text rebuilt per id — a wrong decode cannot
        # hash-match (en dash and euro sign are outside latin-1); every
        # 16th doc adds a NULL-payload record that must survive as an
        # all-NULL row (cardinality preservation)
        "web_wet_charset": """
            SELECT doc_id,
                   CAST(200 AS INTEGER) AS http_status,
                   CASE doc_id % 4 WHEN 0 THEN 'utf-8'
                                   WHEN 1 THEN 'cp1252'
                                   WHEN 2 THEN 'utf-16-le'
                                   ELSE 'iso8859-1' END AS charset,
                   'Doc ' || CAST(doc_id AS VARCHAR) || ' ' ||
                   CASE doc_id % 4 WHEN 0 THEN 'café'
                                   WHEN 1 THEN 'déjà–vu €'
                                   WHEN 2 THEN '日本語 café'
                                   ELSE 'niño ¡hola!' END AS text
            FROM documents
            UNION ALL
            SELECT doc_id, CAST(NULL AS INTEGER) AS http_status,
                   CAST(NULL AS VARCHAR) AS charset,
                   CAST(NULL AS VARCHAR) AS text
            FROM documents WHERE doc_id % 16 = 5
            ORDER BY doc_id
        """,
        # robots -> sitemap -> filter -> schedule: the disallowed middle
        # entry drops, the longer-allow override survives with its rule,
        # crawl-delay scheduling and both Sitemap lines value-checked
        "web_frontier_compose": """
            WITH e AS (
              SELECT doc_id,
                     unnest(generate_series(0, CAST(2 AS BIGINT))) AS k
              FROM documents
            )
            SELECT doc_id,
                   CAST(k AS BIGINT) AS url_pos,
                   CASE WHEN k = 0 THEN '/ok/' || CAST(doc_id AS VARCHAR)
                        ELSE '/private/pub/q' || CAST(doc_id AS VARCHAR)
                   END AS path,
                   CASE WHEN k = 2 THEN '/private/pub/' END AS rule,
                   CAST(k * 2500 AS BIGINT) AS fetch_after_ms,
                   CAST(2 AS INTEGER) AS n_sitemaps
            FROM e WHERE k <> 1 ORDER BY doc_id, url_pos
        """,
        # same translated LIKE patterns, same (specificity, allow) rank
        "web_robots_filter": """
            WITH u AS (
              SELECT doc_id,
                     CASE doc_id % 6
                       WHEN 0 THEN '/ok/' || CAST(doc_id AS VARCHAR)
                       WHEN 1 THEN '/private/p' || CAST(doc_id AS VARCHAR)
                       WHEN 2 THEN '/private/pub/q' || CAST(doc_id AS VARCHAR)
                       WHEN 3 THEN '/tmp' || CAST(doc_id AS VARCHAR)
                       WHEN 4 THEN '/exact'
                       ELSE '/exa' || CAST(doc_id AS VARCHAR)
                     END AS path
              FROM documents
            ),
            r(allow, rule, lk, mlen) AS (
              VALUES (FALSE, '/private/', '/private/%', 9),
                     -- mlen counts pattern octets INCLUDING '*'
                     -- (_robots_like: len(body)), matching the engine
                     (FALSE, '/tmp*', '/tmp%', 5),
                     (TRUE,  '/private/pub/', '/private/pub/%', 13),
                     (FALSE, '/exact$', '/exact', 6),
                     (TRUE,  '/exa', '/exa%', 4)
            ),
            m AS (
              SELECT u.doc_id, u.path, r.allow, r.rule,
                     r.mlen * 2 + CASE WHEN r.allow THEN 1 ELSE 0 END
                       AS rank
              FROM u LEFT JOIN r ON u.path LIKE r.lk
            )
            SELECT doc_id, path,
                   COALESCE(arg_max(allow, rank), TRUE) AS allowed,
                   arg_max(rule, rank) AS rule
            FROM m GROUP BY doc_id, path ORDER BY doc_id
        """,
        # random access: only the manifested members are inflated;
        # offsets + single-member decompression + parse must be exact
        "web_warc_gz_fetch": """
            SELECT doc_id,
                   'D' || CAST(doc_id AS VARCHAR) || ':'
                       || substr(text, 1, 80) AS rec_text,
                   CAST(length('D' || CAST(doc_id AS VARCHAR) || ':'
                       || substr(text, 1, 80)) AS BIGINT)
                     AS content_length
            FROM documents WHERE doc_id % 17 = 3 ORDER BY doc_id
        """,
        # compress -> member-split -> strict-parse must be an identity;
        # member_pos comes from the actual gzip walk, pinned to id%64
        "web_warc_gz_roundtrip": """
            SELECT doc_id,
                   'D' || CAST(doc_id AS VARCHAR) || ':'
                       || substr(text, 1, 80) AS rec_text,
                   CAST(length('D' || CAST(doc_id AS VARCHAR) || ':'
                       || substr(text, 1, 80)) AS BIGINT)
                     AS content_length,
                   CAST(doc_id % 64 AS BIGINT) AS member_pos
            FROM documents ORDER BY doc_id
        """,
        "web_tar_roundtrip": """
            SELECT doc_id, text,
                   CAST(strlen(text) AS BIGINT) AS n_bytes
            FROM documents ORDER BY doc_id
        """,
        # every dHash BIT replayed per distinct texture seed, then the
        # cluster table reproduced over the doc->seed assignment
        "multimodal_image_dhash": """
            WITH d AS (SELECT doc_id, doc_id % 40 AS seed FROM documents),
            dims AS (
              SELECT DISTINCT seed, 16 + seed % 9 AS W, 16 + (seed * 3) % 7 AS H
              FROM d
            ),
            cells AS (
              SELECT seed, W, k,
                     ((k % 8) * W) // 9 AS x0,
                     (((k % 8) + 1) * W) // 9 AS x1,
                     ((k // 8) * H) // 8 AS y0
              FROM dims,
                   LATERAL (SELECT unnest(generate_series(0, CAST(63 AS BIGINT))) AS k) g
            ),
            g AS (
              SELECT seed, k,
                ((seed*31 + ((y0*W + x0)*3 + 0)*131) % 256) * 299
              + ((seed*31 + ((y0*W + x0)*3 + 1)*131) % 256) * 587
              + ((seed*31 + ((y0*W + x0)*3 + 2)*131) % 256) * 114 AS ga,
                ((seed*31 + ((y0*W + x1)*3 + 0)*131) % 256) * 299
              + ((seed*31 + ((y0*W + x1)*3 + 1)*131) % 256) * 587
              + ((seed*31 + ((y0*W + x1)*3 + 2)*131) % 256) * 114 AS gb
              FROM cells
            ),
            hs AS (
              SELECT seed,
                CAST(sum(CASE WHEN k < 32 AND ga < gb
                         THEN (CAST(1 AS BIGINT) << k) ELSE 0 END) AS BIGINT)
                  AS dhash_lo,
                CAST(sum(CASE WHEN k >= 32 AND ga < gb
                         THEN (CAST(1 AS BIGINT) << (k - 32)) ELSE 0 END) AS BIGINT)
                  AS dhash_hi
              FROM g GROUP BY seed
            )
            SELECT h.dhash_hi, h.dhash_lo,
                   CAST(count(*) AS BIGINT) AS n_copies,
                   CAST(min(d.doc_id) AS BIGINT) AS canonical_id
            FROM d JOIN hs h ON h.seed = d.seed
            GROUP BY 1, 2 ORDER BY canonical_id
        """,
        # sample generation + silence gate + framing + integer energy
        # threshold + active span, replayed per sample
        "multimodal_audio_vad": """
            WITH base AS (
              SELECT doc_id, 320 * (2 + doc_id % 9) + (doc_id % 7) AS n
              FROM documents
            ),
            v AS (
              SELECT doc_id, n,
                     unnest(generate_series(0, CAST(n - 1 AS BIGINT))) AS i
              FROM base
            ),
            s AS (
              SELECT doc_id, i // 160 AS f,
                     CASE WHEN (i // 320) % 3 = 0 THEN 0
                          ELSE ((doc_id * 2654435761 + i * 40503) % 65536)
                               - 32768
                     END AS s
              FROM v WHERE i < 160 * (n // 160)
            ),
            fr AS (SELECT doc_id, f, sum(abs(s)) AS e FROM s GROUP BY 1, 2),
            agg AS (
              SELECT doc_id,
                CAST(count(*) AS BIGINT) AS n_frames,
                CAST(sum(CASE WHEN e > 160000 THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_speech,
                CAST(min(CASE WHEN e > 160000 THEN f END) AS BIGINT)
                  AS first_speech,
                CAST(max(CASE WHEN e > 160000 THEN f END) AS BIGINT)
                  AS last_speech
              FROM fr GROUP BY doc_id
            )
            SELECT doc_id AS media_id, n_frames, n_speech,
                   first_speech, last_speech,
                   CAST(COALESCE((last_speech - first_speech + 1) * 160, 0)
                        AS BIGINT) AS trimmed_samples
            FROM agg ORDER BY media_id
        """,
        "text_paragraph_dedup": D.paragraph_dedup_oracle_sql(
            "SELECT doc_id, text || '\n\n' || '" + _PD_BOILER_ALL + "'"
            " || CASE WHEN doc_id % 2 = 0 THEN '\n\n' || '"
            + _PD_BOILER_EVEN
            + "' ELSE '' END AS page FROM documents",
            min_df=2,
        ),
        "web_url_normalize": f"""
            WITH u AS (
              SELECT doc_id,
                     'HTTP://WWW.Example-' || source || '.COM' ||
                     CASE WHEN doc_id % 3 = 0 THEN ':80'
                          WHEN doc_id % 3 = 1 THEN ':8080'
                          ELSE '' END ||
                     '//A/b//c/' || CAST(doc_id AS VARCHAR) ||
                     CASE WHEN doc_id % 4 = 0 THEN '#frag'
                          WHEN doc_id % 4 = 1 THEN '#sec?x=1'
                          ELSE '?z=1&a=2&m=' || lang || '#frag' END AS url
              FROM documents
            )
            SELECT doc_id,
                   {X.normalize_url_expr_sql("url")} AS url_norm,
                   {X.url_host_expr_sql("url")} AS host
            FROM u ORDER BY doc_id
        """,
        "multimodal_image_meta": """
            SELECT doc_id AS media_id,
                   CAST(3 + length(CAST(8 + doc_id % 16 AS VARCHAR)) + 1
                        + length(CAST(8 + (doc_id * 3) % 16 AS VARCHAR)) + 1
                        + 4
                        + (8 + doc_id % 16) * (8 + (doc_id * 3) % 16) * 3
                     AS BIGINT) AS payload_bytes,
                   CAST(8 + doc_id % 16 AS BIGINT) AS width,
                   CAST(8 + (doc_id * 3) % 16 AS BIGINT) AS height
            FROM documents
        """,
        # the WAV sizing arithmetic the decoder must recover: frames =
        # 160*(1+doc_id%30) at 16 kHz mono 16-bit; duration divides
        # exactly (frames is a multiple of 16)
        "multimodal_audio_meta": """
            SELECT doc_id AS media_id,
                   CAST(16000 AS INT) AS sample_rate,
                   CAST(1 AS INT) AS channels,
                   CAST(16 AS INT) AS bits,
                   CAST(160 * (1 + doc_id % 30) AS BIGINT) AS n_samples,
                   CAST(160 * (1 + doc_id % 30) * 1000 // 16000 AS BIGINT)
                     AS duration_ms
            FROM documents
        """,
        # finalize_trending's contract is the same exact frequency
        # statement (the MG summaries only bound the candidate set)
        "stream_trending_finalize": f"""
            WITH src AS (
              SELECT unnest(
                list_filter(string_split_regex(lower(text), '\\s+'), t -> t != '')
              ) AS token FROM documents
            )
            SELECT token, CAST(count(*) AS BIGINT) AS cnt
            FROM src
            GROUP BY token
            HAVING count(*) > (SELECT CAST(count(*) AS DOUBLE) FROM src) / {TREND_K}
            ORDER BY cnt DESC, token ASC
        """,
        "join_salted_hot_key": """
            SELECT s_nationkey AS nation,
                   CAST(count(*) AS BIGINT) AS n_rows,
                   CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount)
                                        * 10000 + 0.5) AS BIGINT)) AS BIGINT)
                     / 10000.0 AS revenue
            FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
            GROUP BY 1 ORDER BY 1
        """,
        "olap_cube": """
            SELECT lang, source,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(n_chars) AS BIGINT) AS total_chars,
                   CAST(GROUPING(lang) * 2 + GROUPING(source) AS BIGINT) AS gid
            FROM documents
            GROUP BY CUBE (lang, source)
        """,
        "olap_grouping_sets": """
            SELECT lang, source,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(n_chars) AS BIGINT) AS total_chars
            FROM documents
            GROUP BY GROUPING SETS ((lang), (source), ())
        """,
        "olap_rollup": """
            SELECT lang, source,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(n_chars) AS BIGINT) AS total_chars
            FROM documents
            GROUP BY ROLLUP (lang, source)
        """,
        "olap_pivot": """
            SELECT lang,
                   CAST(count(*) FILTER (source = 'src0') AS BIGINT) AS src0,
                   CAST(count(*) FILTER (source = 'src1') AS BIGINT) AS src1,
                   CAST(count(*) FILTER (source = 'src2') AS BIGINT) AS src2,
                   CAST(count(*) FILTER (source = 'src3') AS BIGINT) AS src3
            FROM documents
            WHERE source IN ('src0', 'src1', 'src2', 'src3')
            GROUP BY lang
        """,
        "w10_retention": f"""
            WITH weeks AS (
              SELECT DISTINCT user_id, epoch_ns(ts) // {WEEK_NS} AS week
              FROM events
            ),
            first AS (
              SELECT user_id, min(week) AS cohort_week FROM weeks GROUP BY 1
            )
            SELECT f.cohort_week,
                   w.week - f.cohort_week AS week_offset,
                   CAST(count(DISTINCT w.user_id) AS BIGINT) AS active_users
            FROM weeks w JOIN first f USING (user_id)
            GROUP BY 1, 2
        """,
        "w6_range_join": f"""
            WITH c AS (
              SELECT event_id, user_id, epoch_ns(ts) AS tns
              FROM events WHERE event_type = 'click'
            ),
            v AS (
              SELECT user_id, epoch_ns(ts) AS tns, value
              FROM events WHERE event_type = 'view'
            ),
            hits AS (
              SELECT c.event_id, count(*) AS n,
                     sum(CAST(floor(v.value * 10000 + 0.5) AS BIGINT)) AS qs
              FROM c JOIN v
                ON v.user_id = c.user_id
               AND v.tns >= c.tns - {RANGE_WINDOW_NS} AND v.tns <= c.tns
              GROUP BY c.event_id
            )
            SELECT c.event_id, c.user_id,
                   CAST(COALESCE(h.n, 0) AS BIGINT) AS n_views_10m,
                   COALESCE(h.qs, 0) / 10000.0 AS sum_view_value
            FROM c LEFT JOIN hits h USING (event_id)
        """,
        "text_redact": X.redact_pii_oracle_sql(
            """
            SELECT doc_id,
                   CASE WHEN doc_id % 7 = 0
                        THEN text || ' contact user' || CAST(doc_id AS VARCHAR)
                             || '@example.com from 10.0.0.' || CAST(doc_id % 255 AS VARCHAR)
                        ELSE text END AS text
            FROM documents
            """
        ),
        "text_repetition": """
            WITH t AS (
              SELECT doc_id, text,
                     list_filter(string_split_regex(lower(text), '\\s+'), x -> x != '') AS toks
              FROM documents
            ),
            nums AS (SELECT unnest(range(1, (SELECT COALESCE(max(len(toks)), 1) FROM t))) AS i),
            bgc AS (
              SELECT doc_id, g, count(*) AS c FROM (
                SELECT doc_id, toks[i] || ' ' || toks[i+1] AS g
                FROM t JOIN nums ON i <= len(toks) - 1
              ) GROUP BY doc_id, g
            ),
            bga AS (SELECT doc_id, max(c) AS top, CAST(sum(c) AS BIGINT) AS total FROM bgc GROUP BY doc_id),
            tgc AS (
              SELECT doc_id, g, count(*) AS c FROM (
                SELECT doc_id, toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS g
                FROM t JOIN nums ON i <= len(toks) - 2
              ) GROUP BY doc_id, g
            ),
            tga AS (SELECT doc_id, max(c) AS top, CAST(sum(c) AS BIGINT) AS total FROM tgc GROUP BY doc_id),
            lns AS (
              SELECT doc_id, list_filter(string_split(text, chr(10)), x -> x != '') AS ls FROM t
            )
            SELECT t.doc_id,
                   round(CASE WHEN len(ls) > 0
                         THEN (len(ls) - len(list_distinct(ls))) / CAST(len(ls) AS DOUBLE)
                         ELSE 0.0 END, 4) AS dup_line_frac,
                   round(coalesce(bga.top / CAST(bga.total AS DOUBLE), 0.0), 4) AS top_bigram_frac,
                   round(coalesce(tga.top / CAST(tga.total AS DOUBLE), 0.0), 4) AS top_trigram_frac
            FROM t
            JOIN lns ON lns.doc_id = t.doc_id
            LEFT JOIN bga ON bga.doc_id = t.doc_id
            LEFT JOIN tga ON tga.doc_id = t.doc_id
        """,
        "text_vocab": f"""
            SELECT token, CAST(count(*) AS BIGINT) AS n
            FROM (
              SELECT unnest(list_filter(string_split_regex(lower(text), '\\s+'), x -> x != '')) AS token
              FROM documents
            )
            GROUP BY token ORDER BY n DESC, token ASC LIMIT {VOCAB_K}
        """,
        "text_chunk": CHUNK_ORACLE_SQL,
        "corpus_pack_texts": X.pack_texts_oracle_sql(CHUNK_ORACLE_SQL, PACK_BUDGET),
        "sample_hash": f"""
            SELECT doc_id, lang, source FROM documents
            WHERE {SA.hash_sample_where_sql(SAMPLE_FRACTION, "doc_id")}
        """,
        "sample_stratified": SA.stratified_sample_oracle_sql(
            "documents", "lang", STRATA_K, select="doc_id, lang"
        ),
        "split_train_test": f"""
            SELECT doc_id,
                   {SA.train_test_split_case_sql(SPLIT_WEIGHTS, "doc_id")} AS split
            FROM documents
        """,
        "text_token_stats": f"""
            WITH toks AS (
              SELECT doc_id, text,
                     list_filter(string_split_regex(lower(text), '\\s+'), t -> t != '') AS toks
              FROM documents
            )
            SELECT doc_id,
                   CAST(length(text) AS BIGINT) AS n_chars_measured,
                   CAST(len(toks) AS BIGINT) AS n_tokens_ws,
                   CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]')) AS BIGINT) AS n_tokens_bpe,
                   round(CASE WHEN len(toks) > 0
                         THEN length(array_to_string(toks, '')) / CAST(len(toks) AS DOUBLE)
                         ELSE 0.0 END, 4) AS mean_token_len
            FROM toks
        """,
        "text_quality": f"""
            WITH t AS (
              SELECT doc_id, text,
                     list_filter(string_split_regex(lower(text), '\\s+'), t -> t != '') AS toks
              FROM documents
            ), m AS (
              SELECT doc_id,
                     len(toks) AS n,
                     CASE WHEN length(text) > 0
                          THEN len(regexp_extract_all(text, '[A-Za-z]')) / CAST(length(text) AS DOUBLE)
                          ELSE 0.0 END AS alpha_ratio,
                     CASE WHEN len(toks) > 0
                          THEN len(list_filter(toks, t -> list_contains({en_sql}, t))) / CAST(len(toks) AS DOUBLE)
                          ELSE 0.0 END AS stop_ratio,
                     CASE WHEN len(toks) > 0
                          THEN len(list_distinct(toks)) / CAST(len(toks) AS DOUBLE)
                          ELSE 0.0 END AS distinct_ratio
              FROM t
            )
            SELECT doc_id,
                   CAST(n AS BIGINT) AS n_tokens,
                   round(alpha_ratio, 4) AS alpha_ratio,
                   round(stop_ratio, 4) AS stopword_ratio,
                   round(distinct_ratio, 4) AS distinct_ratio,
                   round(
                     (CASE WHEN n >= 10 AND n <= 100000 THEN 0.25 ELSE 0.0 END)
                     + least(alpha_ratio / 0.8, 1.0) * 0.25
                     + least(stop_ratio / 0.3, 1.0) * 0.25
                     + least(distinct_ratio / 0.5, 1.0) * 0.25, 4) AS quality
            FROM m
        """,
        "pipeline_corpus_clean": f"""
            WITH qt AS (
              SELECT doc_id, text,
                     list_filter(string_split_regex(lower(text), '\\s+'), t -> t != '') AS toks
              FROM documents
            ), qm AS (
              SELECT doc_id,
                     len(toks) AS n,
                     CASE WHEN length(text) > 0
                          THEN len(regexp_extract_all(text, '[A-Za-z]')) / CAST(length(text) AS DOUBLE)
                          ELSE 0.0 END AS alpha_ratio,
                     CASE WHEN len(toks) > 0
                          THEN len(list_filter(toks, t -> list_contains({en_sql}, t))) / CAST(len(toks) AS DOUBLE)
                          ELSE 0.0 END AS stop_ratio,
                     CASE WHEN len(toks) > 0
                          THEN len(list_distinct(toks)) / CAST(len(toks) AS DOUBLE)
                          ELSE 0.0 END AS distinct_ratio
              FROM qt
            ), quality AS (
              SELECT doc_id,
                     round(
                       (CASE WHEN n >= 10 AND n <= 100000 THEN 0.25 ELSE 0.0 END)
                       + least(alpha_ratio / 0.8, 1.0) * 0.25
                       + least(stop_ratio / 0.3, 1.0) * 0.25
                       + least(distinct_ratio / 0.5, 1.0) * 0.25, 4) AS quality
              FROM qm
            ), nums AS (SELECT unnest(range(1, (SELECT COALESCE(max(len(toks)), 1) FROM qt))) AS i),
            bgc AS (
              SELECT doc_id, g, count(*) AS c FROM (
                SELECT doc_id, toks[i] || ' ' || toks[i+1] AS g
                FROM qt JOIN nums ON i <= len(toks) - 1
              ) GROUP BY doc_id, g
            ),
            bga AS (SELECT doc_id, max(c) AS top, CAST(sum(c) AS BIGINT) AS total FROM bgc GROUP BY doc_id),
            rep AS (
              SELECT qt.doc_id FROM qt LEFT JOIN bga ON bga.doc_id = qt.doc_id
              WHERE round(coalesce(bga.top / CAST(bga.total AS DOUBLE), 0.0), 4) <= {REPETITION_MAX}
            ), kept AS (
              SELECT d.doc_id, d.text
              FROM documents d JOIN quality USING (doc_id) JOIN rep USING (doc_id)
              WHERE quality >= {QUALITY_MIN}
            ),
            {D.minhash_pair_ctes("kept", MINHASH_K, MINHASH_BANDS, MINHASH_THRESHOLD, SHINGLE_N)},
            dropped AS (SELECT DISTINCT id_b AS doc_id FROM mh_pairs),
            clean AS (
              SELECT k2.doc_id, k2.text FROM kept k2 ANTI JOIN dropped USING (doc_id)
            ), ct AS (
              SELECT doc_id,
                     list_filter(string_split_regex(lower(text), '\\s+'), t -> t != '') AS toks
              FROM clean
            ), s AS (
              SELECT doc_id,
          {score_cols}
              FROM ct
            ), lang AS (
              SELECT doc_id,
                     CASE WHEN ({lang_best}) > 0 THEN {lang_case} ELSE 'und' END AS lang_pred
              FROM s
            )
            SELECT lang_pred,
                   count(*) AS n_docs,
                   CAST(sum(len(ct.toks)) AS BIGINT) AS n_tokens
            FROM ct JOIN lang USING (doc_id)
            GROUP BY lang_pred
        """,
        "text_langid": f"""
            WITH t AS (
              SELECT doc_id,
                     list_filter(string_split_regex(lower(text), '\\s+'), t -> t != '') AS toks
              FROM documents
            ), s AS (
              SELECT doc_id,
          {score_cols}
              FROM t
            )
            SELECT doc_id,
                   CASE WHEN ({lang_best}) > 0 THEN {lang_case} ELSE 'und' END AS lang_pred,
                   round({lang_best}, 4) AS lang_score
            FROM s
        """,
        "text_fingerprint": """
            WITH t AS (
              SELECT doc_id,
                     list_filter(
                       string_split_regex(lower(regexp_replace(text, '[^A-Za-z0-9\\s]', ' ', 'g')), '\\s+'),
                       t -> t != '') AS toks
              FROM documents
            )
            SELECT doc_id,
                   md5(array_to_string(list_sort(list_distinct(toks)), ' ')) AS fingerprint
            FROM t
        """,
        "dedup_exact": """
            SELECT sha256(text) AS text_hash,
                   min(doc_id) AS canonical_id,
                   count(*) AS n_copies
            FROM documents GROUP BY 1
        """,
        "graph_pagerank": G.pagerank_cooccurrence_oracle_sql(
            "SELECT l_orderkey AS g, l_suppkey AS m FROM lineitem",
            "SELECT s_suppkey AS v FROM supplier",
            iters=3,
        ),
        "fuzzy_pairs_suppliers": FZ.fuzzy_pairs_oracle_sql(
            "SELECT s_suppkey, s_name FROM supplier", "s_suppkey", "s_name"
        ),
        "tokenizer_bpe_merges": T.bpe_merges_oracle_sql(
            "SELECT text FROM documents", n_merges=6
        ),
        "tokenizer_bpe_train_local": T.bpe_merges_oracle_sql(
            "SELECT text FROM documents", n_merges=6
        ),
        "tokenizer_bpe_segment_model": T.bpe_segment_oracle_sql(
            "SELECT doc_id, text FROM documents", n_merges=6
        ),
        "sample_weighted": SA.weighted_sample_oracle_sql(
            "SELECT doc_id, n_chars FROM documents", "n_chars", k=100
        ),
        "corpus_merge_upsert": C.merge_upsert_oracle_sql(
            "SELECT doc_id, text FROM documents",
            """SELECT doc_id, text || ' v2' AS text FROM documents
               WHERE doc_id % 7 = 0
               UNION ALL
               SELECT doc_id + 10000000 AS doc_id, text FROM documents
               WHERE doc_id % 13 = 0""",
        ),
        "tokenizer_bpe_segment": T.bpe_segment_oracle_sql(
            "SELECT doc_id, text FROM documents", n_merges=6
        ),
        "text_hll_distinct": SK.hll_distinct_oracle_sql(
            """SELECT lang, unnest(
                 list_filter(string_split_regex(lower(text), '\\s+'), t -> t != '')
               ) AS token FROM documents""",
            "token",
            "lang",
            "lang",
        ),
        "quality_nb": C.nb_quality_oracle_sql(
            "SELECT doc_id, text, source FROM documents",
            "source IN ("
            + ", ".join(f"'{s}'" for s in C.NB_CURATED_SOURCES)
            + ")",
            vocab_k=50,
        )
        + " ORDER BY doc_id",
        "text_tfidf": X.tfidf_topk_oracle_sql("documents", k=TFIDF_K),
        "corpus_length_stats": X.length_stats_oracle_sql("documents"),
        "corpus_pack": f"""
            WITH t AS (
              SELECT doc_id,
                     list_filter(string_split_regex(lower(text), '\\s+'), t -> t != '') AS toks
              FROM documents
            ),
            -- chunk-index bound derived from the corpus max token count
            -- (a hardcoded cap would silently truncate long documents in
            -- the oracle only, shifting every later pack_id)
            nums AS (
              SELECT unnest(range(0, (
                SELECT CAST(ceil(max(len(toks)) / CAST({CHUNK_TOKENS} AS DOUBLE)) AS BIGINT)
                FROM t
              ))) AS ci
            ),
            chunks AS (
              SELECT doc_id,
                     CAST(ci AS BIGINT) AS chunk_id,
                     CAST(len(toks[ci * {CHUNK_TOKENS} + 1 : ci * {CHUNK_TOKENS} + {CHUNK_TOKENS}]) AS BIGINT) AS n_tokens
              FROM t JOIN nums ON ci < ceil(len(toks) / CAST({CHUNK_TOKENS} AS DOUBLE))
            ),
            cum AS (
              SELECT doc_id, chunk_id, n_tokens,
                     COALESCE(sum(n_tokens) OVER (
                       ORDER BY doc_id, chunk_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                     ), 0) AS c
              FROM chunks
            )
            SELECT doc_id, chunk_id, n_tokens,
                   CAST(c // {PACK_BUDGET} AS BIGINT) AS pack_id,
                   CAST(c % {PACK_BUDGET} AS BIGINT) AS pack_offset
            FROM cum
        """,
        "corpus_decontaminate": C.decontaminate_oracle_sql(
            f"SELECT doc_id, text FROM documents WHERE doc_id % {DECON_EVAL_MOD} != 0",
            f"SELECT doc_id, text FROM documents WHERE doc_id % {DECON_EVAL_MOD} = 0",
            n=DECON_N,
        ),
        "text_ngram_topk": X.ngram_topk_oracle_sql(
            "documents", n=NGRAM_TOPK_N, k=NGRAM_TOPK_K
        ),
        "text_bm25_topk": X.bm25_topk_oracle_sql(
            "documents", BM25_QUERIES, k=BM25_K
        ),
        "text_normalize": X.normalize_text_oracle_sql("documents"),
        "text_cms_counts": X.cms_topk_check_sql(
            "documents", k=VOCAB_K, depth=CMS_DEPTH, width=CMS_WIDTH
        ),
        "corpus_bigram_logprob": C.bigram_logprob_oracle_sql(
            "SELECT doc_id, text FROM documents",
            vocab_k=UNIGRAM_VOCAB_K,
            bigram_m=BIGRAM_M,
        ),
        "corpus_kn_bigram": C.kn_bigram_logprob_oracle_sql(
            "SELECT doc_id, text FROM documents",
            vocab_k=UNIGRAM_VOCAB_K,
            bigram_m=BIGRAM_M,
        ),
        "sample_mixture": f"""
            SELECT doc_id, source FROM documents
            WHERE {SA.mixture_sample_where_sql(MIXTURE_WEIGHTS, default=MIXTURE_DEFAULT)}
        """,
        "corpus_budget_select": SA.select_until_budget_oracle_sql(
            """SELECT doc_id,
                      CAST(len(toks) AS BIGINT) AS n_tokens,
                      CAST(len(list_distinct(toks)) AS BIGINT) AS priority
               FROM (
                 SELECT doc_id,
                        list_filter(string_split_regex(lower(text), '\\s+'), t -> t != '') AS toks
                 FROM documents
               )""",
            TOKEN_BUDGET,
        ),
        "corpus_shuffle": SA.deterministic_shuffle_oracle_sql(
            "documents", select="doc_id, source"
        ),
        "corpus_budget_by_source": SA.select_until_budget_by_group_oracle_sql(
            """SELECT doc_id, source,
                      CAST(len(toks) AS BIGINT) AS n_tokens,
                      CAST(len(list_distinct(toks)) AS BIGINT) AS priority
               FROM (
                 SELECT doc_id, source,
                        list_filter(string_split_regex(lower(text), '\\s+'), t -> t != '') AS toks
                 FROM documents
               )""",
            GROUP_TOKEN_BUDGET,
        ),
        "corpus_decontaminate_bloom": C.decontaminate_bloom_oracle_sql(
            f"SELECT doc_id, text FROM documents WHERE doc_id % {DECON_EVAL_MOD} != 0",
            f"SELECT doc_id, text FROM documents WHERE doc_id % {DECON_EVAL_MOD} = 0",
            n=DECON_N,
        ),
        "corpus_unigram_logprob": C.unigram_logprob_oracle_sql(
            "SELECT doc_id, text FROM documents", vocab_k=UNIGRAM_VOCAB_K
        ),
        "dedup_ngram": D.ngram_jaccard_oracle_sql(
            "documents", JACCARD_THRESHOLD, SHINGLE_N, MAX_DF_FRAC
        ),
        "dedup_minhash": D.minhash_lsh_oracle_sql(
            "documents", MINHASH_K, MINHASH_BANDS, MINHASH_THRESHOLD, SHINGLE_N
        ),
        "multimodal_meta": """
            SELECT doc_id AS media_id,
                   sha256(text) AS payload_sha256,
                   CAST(octet_length(encode(text)) AS BIGINT) AS payload_bytes
            FROM documents
        """,
        "dedup_incremental": D.minhash_incremental_oracle_sql(
            "documents",
            f"{{col}} % {INCR_NEW_MOD} = 0",
            MINHASH_K,
            MINHASH_BANDS,
            MINHASH_THRESHOLD,
            SHINGLE_N,
        ),
        "dedup_simhash": D.simhash_oracle_sql("documents"),
        "dedup_cluster": D.cluster_oracle_sql("documents"),
        "dedup_keep_best": D.keep_best_oracle_sql("documents"),
        "dedup_tfidf_cosine": D.tfidf_cosine_oracle_sql(
            "documents", COSINE_THRESHOLD, SHINGLE_N, MAX_DF_FRAC
        ),
        "dedup_embedding": S.embedding_neardup_oracle_sql("embeddings", NEARDUP_TAU),
        "dedup_embedding_lsh": S.embedding_neardup_oracle_sql(
            "embeddings", NEARDUP_TAU, planes=NEARDUP_PLANES
        ),
        "emb_quantize": S.quantize_oracle_sql(
            "embeddings", bits=QUANT_BITS, dim=EMB_DIM
        ),
        "emb_label_centroids": S.label_centroids_oracle_sql(
            "embeddings", dim=EMB_DIM
        ),
        "emb_outliers": S.centroid_outliers_oracle_sql(
            "embeddings", OUTLIER_T_Q, dim=EMB_DIM
        ),
        "emb_nearest_centroid": S.nearest_centroid_oracle_sql(
            "embeddings", dim=EMB_DIM
        ),
        "emb_kmeans_centroids": S.kmeans_centroids_oracle_sql(
            "embeddings", KMEANS_K, KMEANS_ITERS, dim=EMB_DIM
        ),
        "emb_gram_matrix": S.gram_matrix_oracle_sql("embeddings", dim=EMB_DIM),
        "dedup_spans": D.duplicated_spans_oracle_sql("documents", n=DUPSPAN_N),
        "corpus_length_quantiles": X.length_quantiles_oracle_sql("documents"),
        "dedup_spans_apply": D.remove_spans_oracle_sql("documents", n=DUPSPAN_N),
        "dedup_semantic": S.semantic_dedup_oracle_sql(
            "embeddings", NEARDUP_TAU, KMEANS_K, KMEANS_ITERS, dim=EMB_DIM
        ),
        "emb_kmeans": S.kmeans_oracle_sql(
            "embeddings", KMEANS_K, KMEANS_ITERS, dim=EMB_DIM
        ),
        "ann_cosine_topk": S.cosine_topk_oracle_sql("embeddings", ANN_K, ANN_QUERIES),
        "ann_lsh_topk": S.ann_lsh_oracle_sql(
            "embeddings", 64, ANN_K, LSH_PLANES, LSH_SEED, ANN_QUERIES
        ),
        "ann_ivf_topk": S.ann_ivf_oracle_sql(
            "embeddings", IVF_CENTROIDS, IVF_PROBE, ANN_K, ANN_QUERIES
        ),
        "ann_l2_topk": S.l2_topk_oracle_sql("embeddings", ANN_K, ANN_QUERIES),
        "ann_pq_topk": S.ann_pq_oracle_sql(
            "embeddings", PQ_M, PQ_KS, ANN_K, ANN_QUERIES, dim=EMB_DIM
        ),
        "ann_pq_recall": S.ann_pq_recall_oracle_sql(
            "embeddings", PQ_M, PQ_KS, ANN_K, ANN_QUERIES, dim=EMB_DIM
        ),
        "ann_pq_trained_topk": S.ann_pq_trained_oracle_sql(
            "embeddings", PQ_M, PQ_TRAIN_KS, PQ_TRAIN_ITERS, ANN_K,
            ANN_QUERIES, dim=EMB_DIM,
        ),
        "ann_pq_rerank_topk": S.ann_pq_rerank_oracle_sql(
            "embeddings", PQ_M, PQ_KS, ANN_K, PQ_RERANK_SHORTLIST,
            ANN_QUERIES, dim=EMB_DIM,
        ),
        "ann_pq_rerank_recall": S.ann_pq_rerank_recall_oracle_sql(
            "embeddings", PQ_M, PQ_KS, ANN_K, PQ_RERANK_SHORTLIST,
            ANN_QUERIES, dim=EMB_DIM,
        ),
    }


# Queries intentionally shipped WITHOUT a DuckDB oracle, with the reason —
# the correctness harness (tools/check_oracle.py) and the registry test
# fail if an entry is in neither oracles() nor this dict, so an oracle can
# never be dropped silently.
ROWS_ONLY: dict[str, str] = {
    "emb_pca_project": (
        "PCA loadings come from a driver-side 64x64 numpy eigendecomposition "
        "of the distributed Gram/mean aggregates — not expressible in SQL; "
        "semantics pinned by tests/test_operators.py::test_pca_matches_numpy "
        "(driver runs the weaker rows-only check by design)"
    ),
    "p14_uuid5": (
        "uuid5 is sha1-based and DuckDB ships no sha1; the uuid.uuid5 "
        "semantics are pinned by unit tests instead (driver runs the "
        "weaker rows-only check by design)"
    ),
    "tokenizer_unigram_segment": (
        "unigram-LM segmentation is a Viterbi DP — not expressible in "
        "SQL; the model is pinned by the local-vs-distributed identity "
        "differential and segmentation by the brute-force optimality "
        "test (tests/test_round12.py; driver runs the weaker rows-only "
        "check by design)"
    ),
}


# ------------------------------------------------- round-7 retrieval gates
RRF_N = 15   # per-system candidate depth feeding the fusion
RRF_K = 10   # fused list depth
NDCG_K = 10  # graded-eval depth
MMR_QUERIES = 3
MMR_POOL = 12
MMR_K = 5
LPA_ITERS = 4


def retrieval_ql_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dirichlet query-likelihood retrieval (Zhai & Lafferty): top-5
    documents per query, exact-integer quantized-ln scoring over the
    same postings aggregations BM25 uses (retrieval.ql_topk)."""
    qdf = spark.createDataFrame(BM25_QUERIES, "query_id long, query string")
    return R.ql_topk(_t(spark, sf_dir, "documents"), qdf, k=BM25_K)


def retrieval_rrf_fuse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion of BM25 and query-likelihood top-15 lists
    into a fused top-10 (retrieval.rrf_fuse_topk): contributions are
    exact BIGINTs (1e12 DIV (60+rank)), so the hybrid ranking is pure
    integer arithmetic over two tiny per-query relations."""
    docs = _t(spark, sf_dir, "documents")
    qdf = spark.createDataFrame(BM25_QUERIES, "query_id long, query string")
    bm = X.bm25_topk(docs, qdf, k=RRF_N)
    ql = R.ql_topk(docs, qdf, k=RRF_N)
    return R.rrf_fuse_topk(bm, ql, k=RRF_K)


def retrieval_ndcg_truncated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graded nDCG@10 + MRR of the truncated-dims cosine index against
    the full-dim exact truth (retrieval.ndcg_vs_truth) — the ranked-
    quality view of the same trade ann_truncation_recall measures as
    set overlap: recall is blind to WHERE survivors land; this gate
    pays position-discounted credit."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.orderBy("vec_id").limit(ANN_QUERIES)
    truth = S.cosine_topk(emb, queries, k=NDCG_K)
    approx = S.cosine_truncated_topk(emb, queries, d_keep=TRUNC_D, k=NDCG_K)
    return R.ndcg_vs_truth(truth, approx, k=NDCG_K)


def retrieval_mmr_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal-marginal-relevance diversified top-5 from an exact-cosine
    pool of 12 per query, lambda=0.7 as the exact rational 7/10
    (retrieval.mmr_topk); the greedy loop runs as tiny broadcast joins
    and the oracle unrolls it as MATERIALIZED CTEs."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.orderBy("vec_id").limit(MMR_QUERIES)
    return R.mmr_topk(emb, queries, k=MMR_K, pool=MMR_POOL)


def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection: 4 synchronous weighted label-propagation
    iterations over the supplier co-occurrence graph (graph.
    label_propagation) — same join+agg iteration shape as PageRank,
    argmax tie-break to the smaller label, unrolled-CTE oracle."""
    li = _t(spark, sf_dir, "lineitem")
    supplier = _t(spark, sf_dir, "supplier")
    edges = G.cooccurrence_edges(li, "l_orderkey", "l_suppkey")
    vertices = supplier.select(F.col("s_suppkey").alias("v"))
    return G.label_propagation(edges, vertices, iters=LPA_ITERS)


def mixture_doremi_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One DoReMi multiplicative-weights update of per-source mixture
    weights from the per-token NLL under the corpus unigram LM
    (sampling.doremi_step): clipped excess loss, exp factor quantized
    at 1e-6, integer-DIV normalization + 1/10 uniform smoothing."""
    return SA.doremi_step(_t(spark, sf_dir, "documents"))


HY_QUERIES = 3   # known-item hybrid retrieval: query docs = 3 lowest ids
RM3_M = 5        # feedback depth
RM3_E = 8        # expansion terms per query
TEXTRANK_K = 20  # corpus keywords

# TextRank's relational edge derivation, mirrored for the oracle: in-row
# bigrams (list_zip of the two shifted token slices), self-pairs dropped,
# symmetrized, counted.
_TEXTRANK_EDGES_SQL = """
WITH bi AS (
  SELECT z[1] AS a, z[2] AS b FROM (
    SELECT unnest(list_zip(toks[1:len(toks)-1], toks[2:len(toks)])) AS z
    FROM (
      SELECT list_filter(string_split_regex(lower(text), '\\s+'), t -> t != '') AS toks
      FROM documents
    ) d
  ) u
  WHERE z[1] != z[2]
)
SELECT src, dst, CAST(count(*) AS BIGINT) AS w FROM (
  SELECT a AS src, b AS dst FROM bi
  UNION ALL
  SELECT b AS src, a AS dst FROM bi
) GROUP BY 1, 2
"""

_TEXTRANK_VERTS_SQL = """
SELECT DISTINCT unnest(
  list_filter(string_split_regex(lower(text), '\\s+'), t -> t != '')
) AS v
FROM documents
"""


def retrieval_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid dense+sparse retrieval: RRF of the BM25 ranking (query =
    the document's own text) and the dense cosine ranking (query = the
    document's embedding) for the 3 lowest doc ids — the production
    related-document stack, joined across the aligned doc_id/vec_id
    spaces.  The query's own document is dropped after fusion
    (exclude_self; the dense side never contains it, the lexical side
    ranks it #1 — uniform, documented, oracle-mirrored)."""
    docs = _t(spark, sf_dir, "documents")
    emb = _t(spark, sf_dir, "embeddings")
    qdf = (
        docs.orderBy("doc_id")
        .limit(HY_QUERIES)
        .select(
            F.col("doc_id").alias("query_id"), F.col("text").alias("query")
        )
    )
    bm = X.bm25_topk(docs, qdf, k=RRF_N)
    qe = emb.orderBy("vec_id").limit(HY_QUERIES)
    dn = S.cosine_topk(emb, qe, k=RRF_N).select(
        "query_id", F.col("corpus_id").alias("doc_id"), "rank"
    )
    return R.rrf_fuse_topk(bm, dn, k=RRF_K, exclude_self=True)


def retrieval_rm3_expand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pseudo-relevance-feedback expansion terms (RM1 inside RM3,
    Lavrenko & Croft): QL top-5 feedback docs per query, expansion mass
    (tf*1e6) DIV dl summed exactly, query's own terms excluded, top-8
    per query (retrieval.rm3_expansion_terms)."""
    qdf = spark.createDataFrame(BM25_QUERIES, "query_id long, query string")
    return R.rm3_expansion_terms(
        _t(spark, sf_dir, "documents"), qdf, m=RM3_M, e=RM3_E
    )


SNIPPET_W = 10
SNIPPET_DOCS = 3


def retrieval_snippet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Best-window snippet extraction for each query's BM25 top docs
    (retrieval.best_snippet): the 10-token window covering the most
    distinct query terms, ties to more hits then the earliest position;
    the anchor-window self-join is bounded by query-term occurrences,
    never document length."""
    qdf = spark.createDataFrame(BM25_QUERIES, "query_id long, query string")
    return R.best_snippet(
        _t(spark, sf_dir, "documents"), qdf, w=SNIPPET_W, n_docs=SNIPPET_DOCS
    )


HOLDOUT_MOD = 5  # every 5th doc held out for LM eval


def corpus_heldout_ppl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Held-out unigram-LM evaluation (corpus.heldout_perplexity): train
    on doc_id % 5 != 0, score the held-out fifth — one summary row of
    per-token NLL, perplexity, and OOV fraction.  The eval-hygiene twin
    of corpus_unigram_logprob (which scores the training corpus
    itself)."""
    docs = _t(spark, sf_dir, "documents")
    train = docs.filter(F.col("doc_id") % HOLDOUT_MOD != 0)
    ev = docs.filter(F.col("doc_id") % HOLDOUT_MOD == 0)
    return C.heldout_perplexity(train, ev)


def ann_ivfpq_rerank_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graded nDCG@10 + MRR of the full production ANN path (IVF-PQ +
    exact re-rank) against all-pairs exact-L2 truth — the position-
    discounted companion to ann_ivfpq_rerank_recall (recall counts set
    overlap; this grades WHERE the survivors land).  Convention note:
    the index may return the query's own vector (production serving
    does) while the truth side excludes it, so self hits earn zero gain
    — the same convention the recall gate measures under."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.orderBy("vec_id").limit(ANN_QUERIES)
    truth = S.l2_topk(emb, queries, k=NDCG_K)
    approx = S.ann_ivfpq_rerank(
        emb, queries, n_centroids=IVF_CENTROIDS, n_probe=IVF_PROBE,
        m=PQ_M, ks=PQ_KS, k=NDCG_K, shortlist=PQ_RERANK_SHORTLIST,
        dim=EMB_DIM,
    )
    return R.ndcg_vs_truth(truth, approx, k=NDCG_K)


def graph_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity of the label-propagation partition over the
    supplier co-occurrence graph (graph.modularity): exact-BIGINT
    numerator sum_c(e_c*W - d_c^2) over W^2 — the partition-quality
    scorecard for graph_label_propagation, one row."""
    li = _t(spark, sf_dir, "lineitem")
    supplier = _t(spark, sf_dir, "supplier")
    # checkpointed: label_propagation AND modularity both persist/scan
    # the edge list, and each releases its own cache — without the cut
    # the full co-occurrence derivation (lineitem distinct + per-order
    # self-join + weight aggregation) would execute twice in this query
    edges = cut(G.cooccurrence_edges(li, "l_orderkey", "l_suppkey"))
    vertices = supplier.select(F.col("s_suppkey").alias("v"))
    labels = G.label_propagation(edges, vertices, iters=LPA_ITERS)
    return G.modularity(edges, labels)


def text_textrank_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TextRank corpus keywords (Mihalcea & Tarau): PageRank over the
    token-adjacency co-occurrence graph (graph.adjacency_edges — in-row
    bigram extraction, no positional self-join), 3 exact-integer
    iterations, top-20 tokens by rank (graph.pagerank reused verbatim;
    the oracle is the generic unrolled-CTE PageRank over the same
    relational edge derivation)."""
    docs = _t(spark, sf_dir, "documents")
    edges = G.adjacency_edges(docs)
    vertices = (
        docs.select(F.explode(X.tokens(F.col("text"))).alias("v")).distinct()
    )
    ranked = G.pagerank(edges, vertices, iters=3)
    return ranked.limit(TEXTRANK_K).select(
        F.col("v").alias("token"), "pagerank"
    )


def all_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Registry of every oracle-gated query, ordered for the driver's gate.

    The driver's correctness gate checks only the FIRST 50 entries of this
    dict, so the ordering is a rotation policy, not an accident:

    1. The window head holds the gates new this round — simple-font
       /Encoding extraction (WinAnsi + /Differences,
       ``doc_pdf_encoding``), CID/Type0
       font extraction through /ToUnicode CMaps (``doc_pdf_cid``),
       encrypted-PDF extraction (standard security handler, empty
       user password: RC4-40/RC4-128/AESV2 gated + AES-256 R6
       pytest-pinned, ``doc_pdf_encrypted``), MPEG-2 LSF +
       low-rate Layer II decode (``multimodal_mp2_lsf``), 4:1:1/4:2:2
       JPEG subsampling (``multimodal_jpeg_411``), data-driven
       auto-banded politeness scheduling (``web_frontier_auto``) —
       plus ``doc_pdf_extract_modern``, whose fixture grew the
       ObjStm-resident indirect-/Length class this round and is
       re-pinned for a fresh driver row.
    2. The remaining slots are the refresh queue's continuation
       exactly as documented last round: ``retrieval_mmr_topk`` (the
       entry the 50-slot cap dropped in r11), the six skipped round-6
       head entries (``ann_pq_rerank_recall`` through ``emb_kmeans``),
       then the round-7 remainder from ``retrieval_hybrid_rrf``
       (the cap falls at ``quality_roc_auc``).
    3. The tail holds, in refresh-queue order: the remaining
       round-8/round-9/round-10 blocks unchanged, and — freshest rows
       last — the round-11 driver window (CORRECTNESS_r11: 49/50
       exact + the documented ``emb_pca_project`` rows-only row).

    Next-round rotation queue: ``profile_key_skew``,
    ``layout_range_bounds`` and
    ``quality_vocab_js`` (the entries this round's cap dropped), then
    the round-8 continuation
    (``corpus_dsir_select`` onward through the round-9 block), then
    the round-10 block; the round-11 window block stays last as the
    freshest rows.
    Lifetime invariant: every registry query except the three documented
    ROWS_ONLY entries has an exact driver-green row in some
    CORRECTNESS_r*.json, and the full-registry sweep at HEAD is
    committed per round as CORRECTNESS_LOCAL_r*.json (enforced by
    tests/test_plans.py).

    When adding a query, insert it at the top so it gets a driver row
    next round; rotate the most-recently-checked entries toward the
    tail.  Every entry has an oracle or a documented ROWS_ONLY reason
    (enforced by tools/check_oracle.py and tests/test_plans.py).
    """
    return {
        "doc_pdf_encoding": doc_pdf_encoding,
        "doc_pdf_cid": doc_pdf_cid,
        "doc_pdf_encrypted": doc_pdf_encrypted,
        # -- r12 window head: the gates new this round, plus the
        # modern-PDF gate whose fixture grew the ObjStm-resident
        # /Length class (re-pinned for a fresh driver row) --
        "multimodal_mp2_lsf": multimodal_mp2_lsf,
        "multimodal_jpeg_411": multimodal_jpeg_411,
        "web_frontier_auto": web_frontier_auto,
        "doc_pdf_extract_modern": doc_pdf_extract_modern,
        # -- the refresh queue's continuation exactly as documented
        # last round: the entry the 50-slot cap dropped in r11, the
        # six skipped round-6 head entries, then the round-7
        # remainder / round-8 block (the cap falls at
        # quality_vocab_js) --
        "retrieval_mmr_topk": retrieval_mmr_topk,
        "ann_pq_rerank_recall": ann_pq_rerank_recall,
        "stream_trending_finalize": stream_trending_finalize,
        "multimodal_audio_meta": multimodal_audio_meta,
        "multimodal_image_meta": multimodal_image_meta,
        "emb_label_centroids": emb_label_centroids,
        "emb_kmeans": emb_kmeans,
        "retrieval_hybrid_rrf": retrieval_hybrid_rrf,
        "retrieval_rm3_expand": retrieval_rm3_expand,
        "ann_ivfpq_rerank_ndcg": ann_ivfpq_rerank_ndcg,
        "corpus_heldout_ppl": corpus_heldout_ppl,
        "retrieval_snippet": retrieval_snippet,
        "graph_label_propagation": graph_label_propagation,
        "graph_modularity": graph_modularity,
        "text_textrank_keywords": text_textrank_keywords,
        "mixture_doremi_step": mixture_doremi_step,
        "ann_ivfpq_topk": ann_ivfpq_topk,
        "ann_ivfpq_recall": ann_ivfpq_recall,
        "emb_hard_negatives": emb_hard_negatives,
        "emb_hard_negatives_ann": emb_hard_negatives_ann,
        "w17_ohlc": w17_ohlc,
        "w18_sequence_detect": w18_sequence_detect,
        "w19_dedup_debounce": w19_dedup_debounce,
        "quality_quantile_drift": quality_quantile_drift,
        "w20_cumulative_users": w20_cumulative_users,
        "olap_basket_lift": olap_basket_lift,
        "ann_truncation_recall": ann_truncation_recall,
        "ann_ivfpq_residual_topk": ann_ivfpq_residual_topk,
        "ann_ivfpq_residual_recall": ann_ivfpq_residual_recall,
        "quality_chi2_drift": quality_chi2_drift,
        "emb_centroid_drift": emb_centroid_drift,
        "profile_join_cardinality": profile_join_cardinality,
        "text_phrase_search": text_phrase_search,
        "profile_robust_outliers": profile_robust_outliers,
        "join_bloom_pruned": join_bloom_pruned,
        "ann_ivfpq_rerank_topk": ann_ivfpq_rerank_topk,
        "ann_ivfpq_rerank_recall": ann_ivfpq_rerank_recall,
        "sketch_bitmap_distinct": sketch_bitmap_distinct,
        "sketch_quantile_bottomk": sketch_quantile_bottomk,
        "sketch_hll_rollup": sketch_hll_rollup,
        "layout_shard_manifest": layout_shard_manifest,
        "quality_pr_curve": quality_pr_curve,
        "quality_roc_auc": quality_roc_auc,
        "profile_key_skew": profile_key_skew,
        "layout_range_bounds": layout_range_bounds,
        "quality_vocab_js": quality_vocab_js,
        # -- tail, refresh-queue order: the remaining round-8/9/10
        # blocks unchanged --
        "corpus_dsir_select": corpus_dsir_select,
        "quality_psi_drift": quality_psi_drift,
        "quality_ks_drift": quality_ks_drift,
        "sketch_kmv_overlap": sketch_kmv_overlap,
        "multimodal_audio_features": multimodal_audio_features,
        "multimodal_image_resize": multimodal_image_resize,
        "text_containment": text_containment,
        "graph_entity_resolution": graph_entity_resolution,
        "multimodal_png_resize": multimodal_png_resize,
        "wet_extract": wet_extract,
        "text_paragraph_dedup": text_paragraph_dedup,
        "web_url_normalize": web_url_normalize,
        "multimodal_jpeg_roundtrip": multimodal_jpeg_roundtrip,
        "multimodal_image_dhash": multimodal_image_dhash,
        "multimodal_audio_vad": multimodal_audio_vad,
        "web_tar_roundtrip": web_tar_roundtrip,
        "multimodal_video_frames": multimodal_video_frames,
        "multimodal_adpcm_roundtrip": multimodal_adpcm_roundtrip,
        "multimodal_dhash_pairs": multimodal_dhash_pairs,
        "text_pmi_topk": text_pmi_topk,
        "corpus_length_quantiles_hist": corpus_length_quantiles_hist,
        "text_tfidf": text_tfidf,
        "corpus_pack": corpus_pack,
        "corpus_decontaminate": corpus_decontaminate,
        "corpus_unigram_logprob": corpus_unigram_logprob,
        "dedup_incremental": dedup_incremental,
        "text_quality": text_quality,
        "text_langid": text_langid,
        "sample_stratified": sample_stratified,
        "dedup_exact": dedup_exact,
        "dedup_minhash": dedup_minhash,
        "dedup_simhash": dedup_simhash,
        "dedup_ngram": dedup_ngram,
        "corpus_length_stats": corpus_length_stats,
        "w6_range_join": w6_range_join,
        "multimodal_meta": multimodal_meta,
        "sample_hash": sample_hash,
        "text_chunk": text_chunk,
        "split_train_test": split_train_test,
        "text_repetition": text_repetition,
        "text_vocab": text_vocab,
        "text_redact": text_redact,
        "dedup_cluster": dedup_cluster,
        "dedup_apply_anti_join": dedup_apply_anti_join,
        "w1_sessionize": w1_sessionize,
        "w2_json_extract": w2_json_extract,
        "w3_topn_per_group": w3_topn_per_group,
        "w4_rolling_aggregate": w4_rolling_aggregate,
        "w5_asof_join": w5_asof_join,
        "text_token_stats": text_token_stats,
        "text_fingerprint": text_fingerprint,
        "adtl_engine_groupby": adtl_engine_groupby,
        "adtl_engine_typed": adtl_engine_typed,
        "adtl_engine_one_to_many": adtl_engine_one_to_many,
        "q1_pricing_summary": q1_pricing_summary,
        "q3_shipping_priority": q3_shipping_priority,
        "f_predicates": f_predicates,
        "a2_last_not_null": a2_last_not_null,
        "a3_combined_fold": a3_combined_fold,
        "r1_one_to_many": r1_one_to_many,
        "v2_validation_report": v2_validation_report,
        "p3_value_map": p3_value_map,
        "p6_enum_list": p6_enum_list,
        "p8_unit_convert": p8_unit_convert,
        "p9_date_reformat": p9_date_reformat,
        "p10_sensitive_hash": p10_sensitive_hash,
        "t3_word_substitute": t3_word_substitute,
        "t4_get_float": t4_get_float,
        "t7_duration_days": t7_duration_days,
        "t10_make_date": t10_make_date,
        "p14_uuid5": p14_uuid5,
        "corpus_budget_by_source": corpus_budget_by_source,
        "pipeline_corpus_assemble": pipeline_corpus_assemble,
        "corpus_pack_texts": corpus_pack_texts,
        "q5_local_supplier_volume": q5_local_supplier_volume,
        "q18_large_volume_customer": q18_large_volume_customer,
        "privacy_k_anonymity": privacy_k_anonymity,
        "sample_mixture": sample_mixture,
        "corpus_budget_select": corpus_budget_select,
        "corpus_shuffle": corpus_shuffle,
        "w7_asof_forward": w7_asof_forward,
        "w8_asof_nearest": w8_asof_nearest,
        "dedup_semantic": dedup_semantic,
        "multimodal_flac_roundtrip": multimodal_flac_roundtrip,
        "multimodal_mp3_probe": multimodal_mp3_probe,
        "web_warc_gz_roundtrip": web_warc_gz_roundtrip,
        "doc_pdf_extract": doc_pdf_extract,
        "pref_bradley_terry": pref_bradley_terry,
        "pref_rater_kappa": pref_rater_kappa,
        "pref_fleiss_kappa": pref_fleiss_kappa,
        "corpus_kn_bigram": corpus_kn_bigram,
        "web_warc_gz_fetch": web_warc_gz_fetch,
        "tokenizer_unigram_segment": tokenizer_unigram_segment,
        "pref_krippendorff": pref_krippendorff,
        "multimodal_id3_tags": multimodal_id3_tags,
        "multimodal_audio_normalize": multimodal_audio_normalize,
        "web_robots_filter": web_robots_filter,
        "multimodal_image_augment": multimodal_image_augment,
        "quality_compression_ratio": quality_compression_ratio,
        "web_sitemap_parse": web_sitemap_parse,
        "multimodal_g711_roundtrip": multimodal_g711_roundtrip,
        "multimodal_dhash_recall": multimodal_dhash_recall,
        "multimodal_video_frames_avi": multimodal_video_frames_avi,
        "multimodal_avi_soundtrack_vad": multimodal_avi_soundtrack_vad,
        "multimodal_image_resize_box": multimodal_image_resize_box,
        "multimodal_audio_resample": multimodal_audio_resample,
        "sample_split_leakage_safe": sample_split_leakage_safe,
        "corpus_decontaminate_bloom": corpus_decontaminate_bloom,
        "text_ngram_topk": text_ngram_topk,
        "emb_gram_matrix": emb_gram_matrix,
        "dedup_spans": dedup_spans,
        "corpus_length_quantiles": corpus_length_quantiles,
        "dedup_spans_apply": dedup_spans_apply,
        "tokenizer_bpe_train_local": tokenizer_bpe_train_local,
        "tokenizer_bpe_segment_model": tokenizer_bpe_segment_model,
        "q6_forecast_revenue": q6_forecast_revenue,
        "q7_volume_shipping": q7_volume_shipping,
        "q12_shipping_delay": q12_shipping_delay,
        "q15_top_supplier": q15_top_supplier,
        "q17_small_quantity_revenue": q17_small_quantity_revenue,
        "q19_disjunctive_revenue": q19_disjunctive_revenue,
        "q2_best_supplier": q2_best_supplier,
        "q8_market_share": q8_market_share,
        "q9_product_profit": q9_product_profit,
        "q11_important_parts": q11_important_parts,
        "q16_supplier_count": q16_supplier_count,
        "q20_excess_shipments": q20_excess_shipments,
        "olap_cube": olap_cube,
        "olap_grouping_sets": olap_grouping_sets,
        "join_salted_hot_key": join_salted_hot_key,
        "text_heavy_hitters": text_heavy_hitters,
        "ann_l2_topk": ann_l2_topk,
        "ann_pq_topk": ann_pq_topk,
        "ann_pq_recall": ann_pq_recall,
        "layout_zorder_key": layout_zorder_key,
        "emb_jl_project": emb_jl_project,
        "w15_gapfill": w15_gapfill,
        "olap_unpivot": olap_unpivot,
        "pipeline_curriculum": pipeline_curriculum,
        "sample_temperature": sample_temperature,
        "graph_triangles": graph_triangles,
        "multimodal_frame_sample": multimodal_frame_sample,
        "w14_rank_functions": w14_rank_functions,
        "emb_quantize": emb_quantize,
        "w16_gapfill_linear": w16_gapfill_linear,
        "ann_pq_trained_topk": ann_pq_trained_topk,
        "ann_pq_rerank_topk": ann_pq_rerank_topk,
        "web_sitemap_index": web_sitemap_index,
        "web_frontier_compose": web_frontier_compose,
        "web_wet_charset": web_wet_charset,
        "web_frontier_politeness": web_frontier_politeness,
        "pref_winrate_wilson": pref_winrate_wilson,
        "text_script_profile": text_script_profile,
        "text_nfc_normalize": text_nfc_normalize,
        "multimodal_audio_clipping": multimodal_audio_clipping,
        "multimodal_image_sharpness": multimodal_image_sharpness,
        "corpus_ngram_novelty": corpus_ngram_novelty,
        # -- freshest rows last: the round-11 driver window
        # (CORRECTNESS_r11: 49/50 exact + documented rows-only) --
        "web_frontier_priority": web_frontier_priority,
        "multimodal_jpeg_progressive": multimodal_jpeg_progressive,
        "multimodal_mp2_decode": multimodal_mp2_decode,
        "web_frontier_banded": web_frontier_banded,
        "emb_kmeans_centroids": emb_kmeans_centroids,
        "dedup_embedding": dedup_embedding,
        "dedup_embedding_lsh": dedup_embedding_lsh,
        "ann_cosine_topk": ann_cosine_topk,
        "ann_lsh_topk": ann_lsh_topk,
        "ann_ivf_topk": ann_ivf_topk,
        "pipeline_corpus_clean": pipeline_corpus_clean,
        "graph_pagerank": graph_pagerank,
        "fuzzy_pairs_suppliers": fuzzy_pairs_suppliers,
        "w11_scd2": w11_scd2,
        "w12_transitions": w12_transitions,
        "w13_anomaly": w13_anomaly,
        "sample_weighted": sample_weighted,
        "corpus_merge_upsert": corpus_merge_upsert,
        "tokenizer_bpe_merges": tokenizer_bpe_merges,
        "tokenizer_bpe_segment": tokenizer_bpe_segment,
        "text_hll_distinct": text_hll_distinct,
        "quality_nb": quality_nb,
        "q21_waiting_supplier": q21_waiting_supplier,
        "q22_sales_opportunity": q22_sales_opportunity,
        "q4_order_priority": q4_order_priority,
        "q14_promo_revenue": q14_promo_revenue,
        "q10_returned_items": q10_returned_items,
        "q13_customer_distribution": q13_customer_distribution,
        "dedup_minhash_recall": dedup_minhash_recall,
        "dedup_embedding_recall": dedup_embedding_recall,
        "ann_lsh_recall": ann_lsh_recall,
        "emb_pca_project": emb_pca_project,
        "text_bm25_topk": text_bm25_topk,
        "text_normalize": text_normalize,
        "text_cms_counts": text_cms_counts,
        "corpus_bigram_logprob": corpus_bigram_logprob,
        "dedup_keep_best": dedup_keep_best,
        "dedup_tfidf_cosine": dedup_tfidf_cosine,
        "w9_funnel": w9_funnel,
        "w10_retention": w10_retention,
        "olap_rollup": olap_rollup,
        "olap_pivot": olap_pivot,
        "emb_outliers": emb_outliers,
        "emb_nearest_centroid": emb_nearest_centroid,
        "corpus_length_filter": corpus_length_filter,
        "corpus_zipf": corpus_zipf,
        "retrieval_ql_topk": retrieval_ql_topk,
        "retrieval_rrf_fuse": retrieval_rrf_fuse,
        "retrieval_ndcg_truncated": retrieval_ndcg_truncated,
    }
