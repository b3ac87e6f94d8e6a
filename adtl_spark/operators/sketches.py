"""Mergeable distinct-count sketches (HyperLogLog) for corpus statistics.

At 100 TB an exact ``count(DISTINCT token)`` shuffles every distinct token
once; the HLL register table is a fixed 2^p rows per group regardless of
corpus size, merges with ``max`` (associative + commutative, so map-side
partial aggregation collapses each partition to at most 2^p rows before
the shuffle), and the estimate is a driver-free final aggregate.

Everything is deterministic and engine-portable:

- hashing is the repo-wide portable salted md5 (``dedup.md5_60``), so the
  DuckDB oracle computes the exact same 60-bit values;
- the leading-zero rank comes from the bit length of the register
  remainder via ``length(bin(x))`` — identical semantics in Spark and
  DuckDB (no leading zeros, ``bin(0) = '0'``);
- the harmonic mean is accumulated as an EXACT integer: each register
  contributes ``2^(SCALE_POW - M)`` (a power of two, ``shiftleft``), so
  the sum is order-independent BIGINT arithmetic — no float summation
  order to diverge between engines.  Only the final ``alpha*m^2/Z`` (and
  the small-range ``m*ln(m/V)`` linear-counting correction) is float, and
  it is quantized at 1e-4 by the repo's floor protocol.

The reference has no sketch support (its engine is a row-at-a-time Python
interpreter, src/adtl/__init__.py); this module is part of the Spark-first
extension surface alongside the count-min sketch (text.cms_build).
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from adtl_spark.operators.dedup import md5_60, md5_60_sql
from adtl_spark.session import cut_and_release

HLL_P = 8  # 2^8 = 256 registers per group
HLL_M = 1 << HLL_P
HLL_W = 60 - HLL_P  # remainder bits below the register index
SCALE_POW = HLL_W + 2  # 2^(SCALE_POW - M) stays integral for M in [0, W+1]

# alpha_m for m >= 128 (Flajolet et al. 2007); embedded as a literal so
# both engines parse the identical decimal string to the identical double
HLL_ALPHA = 0.7213 / (1.0 + 1.079 / HLL_M)


def _q4(x: Column) -> Column:
    return F.floor(x * 10000 + F.lit(0.5)).cast("double") / 10000.0


def hll_registers(
    df: DataFrame, key: Column, group: Column, group_name: str = "grp"
) -> DataFrame:
    """The mergeable sketch itself: one row per (group, register) holding
    the max leading-zero rank.  ``groupBy().max()`` IS the merge operator —
    union two register tables and re-aggregate to combine sketches built
    on disjoint corpus partitions (or on a stream, where max-agg is a
    supported streaming aggregate)."""
    h = md5_60(F.concat_ws("|", F.lit("hll"), key.cast("string")))
    # exact integer bit ops — h exceeds 2^53, so double division would
    # mis-assign registers near multiples of 2^W; shiftright never does
    j = F.shiftright(h, HLL_W)  # top p bits -> register index
    rest = h % F.lit(1 << HLL_W)
    # rank of the first set bit in the W-bit remainder, counted from the
    # MSB: W+1 when the remainder is zero, else W+1 - bit_length(rest)
    rho = F.when(rest == 0, F.lit(HLL_W + 1)).otherwise(
        F.lit(HLL_W + 1) - F.length(F.bin(rest))
    )
    return (
        df.select(group.alias(group_name), j.alias("register"), rho.alias("rho"))
        .groupBy(group_name, "register")
        .agg(F.max("rho").alias("m_rho"))
    )


def hll_estimate(registers: DataFrame, group_name: str = "grp") -> DataFrame:
    """Collapse a register table to (group, n_set, est_distinct).

    Harmonic mean via the exact-integer protocol: registers sum
    ``2^(SCALE_POW - m_rho)``; absent registers (value 0) contribute
    ``2^SCALE_POW`` each, added as ``(m - n_set) * 2^SCALE_POW`` after the
    aggregate.  Small cardinalities (E <= 2.5m with empty registers) use
    the linear-counting correction ``m * ln(m / V)``.
    """
    m = F.lit(HLL_M).cast("double")
    per_group = registers.groupBy(group_name).agg(
        F.count(F.lit(1)).alias("n_set"),
        # the 1 MUST be a long (shiftleft on a 32-bit int wraps at 32);
        # the shift amount is a column, which the Python shiftleft helper
        # rejects — the SQL form accepts any expression
        F.sum(
            F.expr(f"shiftleft(CAST(1 AS BIGINT), {SCALE_POW} - m_rho)")
        ).alias("__zsum"),
    )
    zsum = (
        F.col("__zsum")
        + (F.lit(HLL_M) - F.col("n_set")) * F.lit(1 << SCALE_POW)
    ).cast("double")
    raw = F.lit(HLL_ALPHA) * m * m * F.lit(float(1 << SCALE_POW)) / zsum
    v = m - F.col("n_set")  # empty registers
    est = F.when((v > 0) & (raw <= 2.5 * m), m * F.log(m / v)).otherwise(raw)
    return per_group.select(
        F.col(group_name),
        F.col("n_set").cast("long").alias("n_set"),
        _q4(est).alias("est_distinct"),
    ).orderBy(group_name)


def hll_distinct(
    df: DataFrame, key: Column, group: Column, group_name: str = "grp"
) -> DataFrame:
    """Distinct-count estimate of ``key`` per ``group`` — registers + final
    estimate composed.  Plan shape: one shuffle of at most 2^p rows per
    group (map-side max-combine first), then a 2^p-to-1 aggregate."""
    return hll_estimate(hll_registers(df, key, group, group_name), group_name)


def hll_distinct_oracle_sql(
    source_sql: str, key_expr: str, group_expr: str, group_name: str = "grp"
) -> str:
    """DuckDB twin of :func:`hll_distinct` over an arbitrary subquery —
    same salted hash, same register math, same integer harmonic sum."""
    h = md5_60_sql(f"concat_ws('|', 'hll', CAST({key_expr} AS VARCHAR))")
    return f"""
    WITH hashed AS (
      SELECT {group_expr} AS {group_name},
             ({h}) >> {HLL_W} AS register,
             ({h}) % {1 << HLL_W} AS rest
      FROM ({source_sql})
    ),
    regs AS (
      SELECT {group_name}, register,
             max(CASE WHEN rest = 0 THEN {HLL_W + 1}
                      ELSE {HLL_W + 1} - length(bin(rest)) END) AS m_rho
      FROM hashed GROUP BY 1, 2
    ),
    grp AS (
      SELECT {group_name},
             count(*) AS n_set,
             sum(CAST(1 AS BIGINT) << ({SCALE_POW} - m_rho)) AS zsum
      FROM regs GROUP BY 1
    )
    SELECT {group_name},
           CAST(n_set AS BIGINT) AS n_set,
           CAST(floor(
             CASE WHEN ({HLL_M} - n_set) > 0
                   AND (CAST({HLL_ALPHA!r} AS DOUBLE) * {HLL_M}.0 * {HLL_M}.0 * CAST({float(1 << SCALE_POW)!r} AS DOUBLE)
                        / CAST(zsum + ({HLL_M} - n_set) * {1 << SCALE_POW} AS DOUBLE)) <= {2.5 * HLL_M}
                  THEN {HLL_M}.0 * ln({HLL_M}.0 / ({HLL_M} - n_set))
                  ELSE CAST({HLL_ALPHA!r} AS DOUBLE) * {HLL_M}.0 * {HLL_M}.0 * CAST({float(1 << SCALE_POW)!r} AS DOUBLE)
                       / CAST(zsum + ({HLL_M} - n_set) * {1 << SCALE_POW} AS DOUBLE)
             END * 10000 + 0.5) AS DOUBLE) / 10000.0 AS est_distinct
    FROM grp
    ORDER BY {group_name}
    """


# -------------------------------------------------- Misra-Gries heavy hitters


def heavy_hitters(
    items: DataFrame,
    item_col: str,
    k: int = 200,
) -> DataFrame:
    """Exact frequent items (count > n/k) found via a Misra-Gries sketch
    pass plus an exact recount — the two-pass shape that makes frequency
    mining 100 TB-safe.

    Pass 1 (the sketch): every partition keeps a k-counter Misra-Gries
    summary (Misra & Gries 1982; mergeable per Agarwal et al., PODS'12
    "Mergeable Summaries") inside one Arrow-batched ``mapInPandas`` —
    at most k candidate rows leave each partition no matter how many
    items it holds.  The union of per-partition summaries is a SUPERSET
    of every item with global count > n/k: per-partition undercount is
    bounded by n_p/k, the bounds sum to n/k, so a qualifying item's
    retained count stays positive in at least one summary.  (Python is
    justified here: a decrement-all counter structure is genuinely
    imperative; everything leaving the UDF is k rows per partition.)

    Pass 2 (exact): the candidate set (sketch-bounded, broadcast-sized)
    semi-joins the corpus and the survivors are EXACTLY counted — so the
    operator's OUTPUT is exact and deterministic, the sketch only bounds
    the candidate set, and a one-line DuckDB frequency query is a full
    oracle.  Returns (item, cnt) with cnt > n/k, ordered by
    (cnt DESC, item)."""
    import pandas as pd

    src = items.select(F.col(item_col).alias("item")).filter(
        F.col("item").isNotNull()
    )

    def mg_partition(batches):
        # batch-merge form of the sketch: each Arrow batch collapses to
        # exact value_counts (vectorized, no per-row Python), then the
        # mergeable-summaries rule folds it into the running k-counter
        # table — subtract the (k+1)th-largest count from everything and
        # drop the non-positive rows.  Same n_p/(k+1) undercount bound
        # as row-at-a-time Misra-Gries (Agarwal et al., merge theorem).
        counters: dict[str, int] = {}
        for pdf in batches:
            for it, c in pdf["item"].value_counts().items():
                counters[it] = counters.get(it, 0) + int(c)
            if len(counters) > k:
                cut = sorted(counters.values(), reverse=True)[k]
                counters = {i: c - cut for i, c in counters.items() if c > cut}
        if counters:
            yield pd.DataFrame({"item": list(counters.keys())})

    cand = (
        src.mapInPandas(mg_partition, "item string")
        .distinct()
    )
    total = src.count()
    thr = total / k
    return (
        src.join(F.broadcast(cand), "item")
        .groupBy("item")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") > thr)
        .orderBy(F.desc("cnt"), F.asc("item"))
    )


def heavy_hitters_oracle_sql(item_sql: str, k: int = 200) -> str:
    """DuckDB twin of :func:`heavy_hitters` — the exact statement of the
    contract the sketch pass only accelerates."""
    return f"""
    WITH src AS (SELECT item FROM ({item_sql}) WHERE item IS NOT NULL)
    SELECT item, CAST(count(*) AS BIGINT) AS cnt
    FROM src
    GROUP BY item
    HAVING count(*) > (SELECT CAST(count(*) AS DOUBLE) FROM src) / {k}
    ORDER BY cnt DESC, item ASC
    """


# ---- KMV (k-minimum-values) set-overlap sketch (round 7) ----------------
# Theta-sketch-style set operations: keep the k smallest distinct hash
# values per corpus; the k-th minimum estimates the distinct count
# ((k-1) * SPACE / kth, Bar-Yossef et al. 2002), and because the sketches
# are uniform samples OF THE SAME hash order, their union's top-k doubles
# as a Jaccard estimator (|union-top-k present in both sides| / |union
# top-k|) — which is how you answer "how much does this week's crawl
# overlap last week's?" without a corpus-sized intersection join.

KMV_SPACE = float(1 << 60)  # md5_60 hash domain
_KMV_SALTS = 64  # per-salt pre-top-k bounds every sort to ~k rows


def _kmv_sketch(df: DataFrame, value: Column, k: int, side: str) -> DataFrame:
    """The k smallest DISTINCT md5_60 hashes of ``value`` as (h, side)
    rows.  Dedup is one map-side-combinable hash aggregate; the global
    top-k runs per hash-derived salt first (parallel, each keeping ~k of
    the smallest candidates), so the final TakeOrderedAndProject sees at
    most SALTS*k rows — no global sort of the distinct relation."""
    from pyspark.sql import Window

    h = df.select(md5_60(value).alias("h")).distinct()
    salted = h.select("h", (F.col("h") % _KMV_SALTS).alias("s"))
    per_salt = F.row_number().over(Window.partitionBy("s").orderBy("h"))
    cand = salted.withColumn("rn", per_salt).filter(F.col("rn") <= k)
    return (
        cand.select("h")
        .orderBy("h")
        .limit(k)
        .select("h", F.lit(side).alias("side"))
    )


def kmv_overlap(
    a: DataFrame,
    b: DataFrame,
    value: Column | str,
    k: int = 128,
) -> DataFrame:
    """One-row overlap summary of two corpora from their KMV sketches.

    Columns: k_a/k_b/k_u (actual sketch sizes, < k when a side has fewer
    distinct values — estimates are then exact counts), matches (union
    top-k values present in BOTH sketches), est_a/est_b/est_union
    (distinct-count estimates, floor-quantized to BIGINT), jaccard_q6
    (matches/k_u at 1e-6), est_inter (jaccard * est_union, floored).

    Exactness: every count is integer; (k-1)*2^60 is a power-of-two
    multiple of a small int (exact double), the /kth divisions and the
    jaccard ratio are single correctly-rounded IEEE ops, so the DuckDB
    replay twin matches bit-for-bit (cross-engine float protocol)."""
    value = F.col(value) if isinstance(value, str) else value
    sk_a = _kmv_sketch(a, value, k, "a")
    sk_b = _kmv_sketch(b, value, k, "b")
    # any union-top-k value is in its own side's top-k, so the union
    # sketch derives from the two k-row sketches alone
    u = (
        sk_a.select("h")
        .unionByName(sk_b.select("h"))
        .distinct()
        .orderBy("h")
        .limit(k)
    )
    flags = (
        u.join(sk_a.select("h", F.lit(1).alias("in_a")), "h", "left")
        .join(sk_b.select("h", F.lit(1).alias("in_b")), "h", "left")
    )

    def est(kth: Column, size: Column) -> Column:
        return F.when(size < k, size.cast("double")).otherwise(
            F.lit(float(k - 1)) * F.lit(KMV_SPACE) / kth
        )

    stats_a = sk_a.agg(
        F.count(F.lit(1)).alias("k_a"), F.max("h").alias("kth_a")
    )
    stats_b = sk_b.agg(
        F.count(F.lit(1)).alias("k_b"), F.max("h").alias("kth_b")
    )
    stats_u = flags.agg(
        F.count(F.lit(1)).alias("k_u"),
        F.max("h").alias("kth_u"),
        F.sum(
            F.when(F.col("in_a").isNotNull() & F.col("in_b").isNotNull(), 1)
            .otherwise(0)
        ).alias("matches"),
    )
    est_a = est(F.col("kth_a"), F.col("k_a"))
    est_b = est(F.col("kth_b"), F.col("k_b"))
    est_u = est(F.col("kth_u"), F.col("k_u"))
    jac = F.col("matches") / F.col("k_u")
    return (
        stats_u.crossJoin(F.broadcast(stats_a))
        .crossJoin(F.broadcast(stats_b))
        .select(
            F.col("k_a").cast("long").alias("k_a"),
            F.col("k_b").cast("long").alias("k_b"),
            F.col("k_u").cast("long").alias("k_u"),
            F.col("matches").cast("long").alias("matches"),
            F.floor(est_a + F.lit(0.5)).cast("long").alias("est_a"),
            F.floor(est_b + F.lit(0.5)).cast("long").alias("est_b"),
            F.floor(est_u + F.lit(0.5)).cast("long").alias("est_union"),
            F.floor(jac * 1000000 + F.lit(0.5)).cast("long").alias("jaccard_q6"),
            F.floor(jac * est_u + F.lit(0.5)).cast("long").alias("est_inter"),
        )
    )


def kmv_overlap_oracle_sql(
    a_select: str, b_select: str, k: int = 128
) -> str:
    """DuckDB replay twin of kmv_overlap: ``a_select``/``b_select`` are
    single-column SELECTs producing each side's values."""
    h = md5_60_sql("v")
    kmv = (
        "SELECT h FROM (SELECT h, row_number() OVER (ORDER BY h) AS rn "
        "FROM (SELECT DISTINCT {hh} AS h FROM ({src}) t(v))) WHERE rn <= {k}"
    )
    sk_a = kmv.format(hh=h, src=a_select, k=k)
    sk_b = kmv.format(hh=h, src=b_select, k=k)
    return f"""
      WITH sk_a AS ({sk_a}),
      sk_b AS ({sk_b}),
      u AS (
        SELECT h FROM (
          SELECT h, row_number() OVER (ORDER BY h) AS rn
          FROM (SELECT DISTINCT h FROM (SELECT h FROM sk_a UNION ALL SELECT h FROM sk_b))
        ) WHERE rn <= {k}
      ),
      flags AS (
        SELECT u.h,
               EXISTS (SELECT 1 FROM sk_a WHERE sk_a.h = u.h) AS in_a,
               EXISTS (SELECT 1 FROM sk_b WHERE sk_b.h = u.h) AS in_b
        FROM u
      ),
      s AS (
        SELECT (SELECT count(*) FROM sk_a) AS k_a,
               (SELECT max(h) FROM sk_a) AS kth_a,
               (SELECT count(*) FROM sk_b) AS k_b,
               (SELECT max(h) FROM sk_b) AS kth_b,
               (SELECT count(*) FROM flags) AS k_u,
               (SELECT max(h) FROM flags) AS kth_u,
               (SELECT count(*) FROM flags WHERE in_a AND in_b) AS matches
      )
      SELECT CAST(k_a AS BIGINT) AS k_a,
             CAST(k_b AS BIGINT) AS k_b,
             CAST(k_u AS BIGINT) AS k_u,
             CAST(matches AS BIGINT) AS matches,
             CAST(floor(CASE WHEN k_a < {k} THEN CAST(k_a AS DOUBLE)
                             ELSE {float(k - 1)} * {KMV_SPACE} / kth_a END + 0.5)
                  AS BIGINT) AS est_a,
             CAST(floor(CASE WHEN k_b < {k} THEN CAST(k_b AS DOUBLE)
                             ELSE {float(k - 1)} * {KMV_SPACE} / kth_b END + 0.5)
                  AS BIGINT) AS est_b,
             CAST(floor(CASE WHEN k_u < {k} THEN CAST(k_u AS DOUBLE)
                             ELSE {float(k - 1)} * {KMV_SPACE} / kth_u END + 0.5)
                  AS BIGINT) AS est_union,
             CAST(floor(CAST(matches AS DOUBLE) / k_u * 1000000 + 0.5)
                  AS BIGINT) AS jaccard_q6,
             CAST(floor(CAST(matches AS DOUBLE) / k_u
                        * (CASE WHEN k_u < {k} THEN CAST(k_u AS DOUBLE)
                                ELSE {float(k - 1)} * {KMV_SPACE} / kth_u END)
                        + 0.5) AS BIGINT) AS est_inter
      FROM s
    """


# ------------------------------------------------- bottom-k quantile sketch


def _bottomk_sample(
    df: DataFrame,
    value: Column | str,
    key: Column | str,
    group: Column | str,
    k: int,
    group_name: str,
) -> DataFrame:
    """Per-group uniform sample of distinct keys: the k rows with the
    smallest salted key-hash, carrying ``min(value)`` per key.  Shared by
    quantile_bottomk and range_bounds; the per-(group, salt) pre-top-k
    bounds every sort to ~k rows before the per-group final top-k."""
    from pyspark.sql import Window

    value = F.col(value) if isinstance(value, str) else value
    key = F.col(key) if isinstance(key, str) else key
    group = F.col(group) if isinstance(group, str) else group
    h = md5_60(F.concat_ws("|", F.lit("qsk"), key.cast("string")))
    hashed = (
        df.select(
            group.alias(group_name),
            h.alias("h"),
            value.cast("long").alias("v"),
        )
        .groupBy(group_name, "h")
        .agg(F.min("v").alias("v"))
    )
    salted = hashed.withColumn("s", F.col("h") % _KMV_SALTS)
    pre = F.row_number().over(Window.partitionBy(group_name, "s").orderBy("h"))
    cand = salted.withColumn("rn", pre).filter(F.col("rn") <= k).drop("rn", "s")
    fin = F.row_number().over(Window.partitionBy(group_name).orderBy("h"))
    return cand.withColumn("rn", fin).filter(F.col("rn") <= k).drop("rn")


def quantile_bottomk(
    df: DataFrame,
    value: Column | str,
    key: Column | str,
    group: Column | str,
    k: int = 256,
    group_name: str = "grp",
    percents: tuple = (10, 25, 50, 75, 90),
) -> DataFrame:
    """Mergeable bottom-k quantile sketch: per group, keep the ``k`` rows
    whose ``key`` has the smallest portable hash (a uniform sample of the
    distinct keys, since md5 order is independent of the value), then
    read type-1 (lower) empirical quantiles off the sample.

    Merge law: ``sketch(A ∪ B) = bottom_k(sketch(A) ∪ sketch(B))`` — the
    k smallest hashes of a union are a subset of the union of each side's
    k smallest, so shards/streams sketch independently and combine with a
    k-row-per-group union (pinned by test_quantile_bottomk_merge_law).

    Scale shape: duplicate keys collapse in one map-side-combinable hash
    aggregate; the per-group top-k runs per hash-derived salt first, so
    no group ever funnels its full distinct set through one task — the
    final per-group sort sees at most SALTS*k rows.  Everything after is
    arithmetic on <= k rows per group.

    Determinism: quantile index is integer ``ceil(n*q/100) = (n*q+99)
    DIV 100`` (no float), sample order is (value, hash) — a total order
    both engines agree on; the DuckDB twin replays the sketch exactly.

    The reference has no quantile support (row-at-a-time interpreter,
    /root/reference/src/adtl/__init__.py); extension surface alongside
    hll_distinct/kmv_overlap.
    """
    from pyspark.sql import Window

    sample = _bottomk_sample(df, value, key, group, k, group_name)
    wv = Window.partitionBy(group_name).orderBy("v", "h")
    ranked = sample.withColumn("rn", F.row_number().over(wv)).withColumn(
        "n", F.count(F.lit(1)).over(Window.partitionBy(group_name))
    )
    aggs = [F.max("n").cast("long").alias("n_sample")]
    for q in percents:
        aggs.append(
            F.max(
                F.expr(f"CASE WHEN rn = (n*{q}+99) DIV 100 THEN v END")
            ).cast("long").alias(f"q{q}")
        )
    return ranked.groupBy(group_name).agg(*aggs).orderBy(group_name)


def quantile_bottomk_oracle_sql(
    source_sql: str,
    key_expr: str,
    value_expr: str,
    group_expr: str,
    k: int = 256,
    group_name: str = "grp",
    percents: tuple = (10, 25, 50, 75, 90),
) -> str:
    """DuckDB replay twin of :func:`quantile_bottomk` — same salted hash,
    same bottom-k selection, same integer quantile indices."""
    h = md5_60_sql(f"concat_ws('|', 'qsk', CAST({key_expr} AS VARCHAR))")
    qcols = ",\n           ".join(
        f"CAST(max(CASE WHEN rn = (n*{q}+99)//100 THEN v END) AS BIGINT) AS q{q}"
        for q in percents
    )
    return f"""
    WITH hashed AS (
      SELECT {group_name}, h, min(v) AS v FROM (
        SELECT {group_expr} AS {group_name}, {h} AS h,
               CAST({value_expr} AS BIGINT) AS v
        FROM ({source_sql})
      ) GROUP BY 1, 2
    ),
    topk AS (
      SELECT {group_name}, h, v FROM (
        SELECT {group_name}, h, v,
               row_number() OVER (PARTITION BY {group_name} ORDER BY h) AS rn
        FROM hashed
      ) WHERE rn <= {k}
    ),
    ranked AS (
      SELECT {group_name}, v,
             row_number() OVER (PARTITION BY {group_name} ORDER BY v, h) AS rn,
             count(*) OVER (PARTITION BY {group_name}) AS n
      FROM topk
    )
    SELECT {group_name},
           CAST(max(n) AS BIGINT) AS n_sample,
           {qcols}
    FROM ranked GROUP BY 1 ORDER BY 1
    """


# ---------------------------------------------------- HLL rollup (merge law)


def hll_rollup(
    df: DataFrame,
    key: Column | str,
    group: Column | str,
    group_name: str = "grp",
    total_label: str = "__all__",
) -> DataFrame:
    """Per-group distinct estimates PLUS a global estimate derived by
    MERGING the per-group register tables (register-wise max), never
    re-reading the input: the sketch-space analogue of ROLLUP.  This is
    the operation that makes HLL useful at 100 TB — per-source register
    tables computed once (2^p rows each) roll up to any coarser grouping
    with a register-max aggregate over sketch-sized data.

    Output: one (grp, n_set, est_distinct) row per group plus a
    ``total_label`` row whose estimate comes from the merged registers.
    """
    key = F.col(key) if isinstance(key, str) else key
    group = F.col(group) if isinstance(group, str) else group
    # the register table feeds BOTH grouping levels; Catalyst does not
    # reuse the exchange across the union branches, so persist it (it is
    # sketch-sized — n_groups * 2^p rows — whatever the corpus size) to
    # scan the corpus exactly once, then release per the repo contract
    regs = hll_registers(df, key, group.cast("string"), group_name).persist()
    merged = (
        regs.groupBy("register")
        .agg(F.max("m_rho").alias("m_rho"))
        .select(F.lit(total_label).alias(group_name), "register", "m_rho")
    )
    out = hll_estimate(regs.unionByName(merged), group_name)
    return cut_and_release(out, [regs])


def hll_rollup_oracle_sql(
    source_sql: str,
    key_expr: str,
    group_expr: str,
    group_name: str = "grp",
    total_label: str = "__all__",
) -> str:
    """DuckDB twin of :func:`hll_rollup`: one register CTE, estimated at
    both grouping levels with the identical integer harmonic-sum math as
    hll_distinct_oracle_sql."""
    h = md5_60_sql(f"concat_ws('|', 'hll', CAST({key_expr} AS VARCHAR))")
    est = f"""CAST(floor(
             CASE WHEN ({HLL_M} - n_set) > 0
                   AND (CAST({HLL_ALPHA!r} AS DOUBLE) * {HLL_M}.0 * {HLL_M}.0 * CAST({float(1 << SCALE_POW)!r} AS DOUBLE)
                        / CAST(zsum + ({HLL_M} - n_set) * {1 << SCALE_POW} AS DOUBLE)) <= {2.5 * HLL_M}
                  THEN {HLL_M}.0 * ln({HLL_M}.0 / ({HLL_M} - n_set))
                  ELSE CAST({HLL_ALPHA!r} AS DOUBLE) * {HLL_M}.0 * {HLL_M}.0 * CAST({float(1 << SCALE_POW)!r} AS DOUBLE)
                       / CAST(zsum + ({HLL_M} - n_set) * {1 << SCALE_POW} AS DOUBLE)
             END * 10000 + 0.5) AS DOUBLE) / 10000.0"""
    return f"""
    WITH hashed AS (
      SELECT CAST({group_expr} AS VARCHAR) AS {group_name},
             ({h}) >> {HLL_W} AS register,
             ({h}) % {1 << HLL_W} AS rest
      FROM ({source_sql})
    ),
    regs AS (
      SELECT {group_name}, register,
             max(CASE WHEN rest = 0 THEN {HLL_W + 1}
                      ELSE {HLL_W + 1} - length(bin(rest)) END) AS m_rho
      FROM hashed GROUP BY 1, 2
    ),
    all_regs AS (
      SELECT {group_name}, register, m_rho FROM regs
      UNION ALL
      SELECT '{total_label}' AS {group_name}, register, max(m_rho) AS m_rho
      FROM regs GROUP BY register
    ),
    grp AS (
      SELECT {group_name},
             count(*) AS n_set,
             sum(CAST(1 AS BIGINT) << ({SCALE_POW} - m_rho)) AS zsum
      FROM all_regs GROUP BY 1
    )
    SELECT {group_name},
           CAST(n_set AS BIGINT) AS n_set,
           {est} AS est_distinct
    FROM grp
    ORDER BY {group_name}
    """


def range_bounds(
    df: DataFrame,
    value: Column | str,
    key: Column | str,
    n_ranges: int = 8,
    k: int = 256,
) -> DataFrame:
    """``n_ranges - 1`` upper boundaries for a range partitioning of
    ``value`` — what Spark's RangePartitioner derives by sampling before
    a distributed sort, made deterministic: the bottom-k hash sample is
    a pure function of the keys, so two runs (or two engines) plan the
    identical boundaries.  Boundary i sits at the type-1 sample quantile
    ``ceil(n*i/n_ranges)``; rows with ``value <= bound(i)`` (and above
    the previous bound) belong to range i.  Output: (bound_idx, upper),
    ascending — feed directly into ``F.when`` chains or a
    ``repartitionByRange`` preview.

    Same sketch, same merge law, same scale shape as
    :func:`quantile_bottomk` (k-row state however large the corpus).
    """
    from pyspark.sql import Window

    sample = _bottomk_sample(df, value, key, F.lit("all"), k, "grp")
    wv = Window.partitionBy("grp").orderBy("v", "h")
    ranked = sample.withColumn("rn", F.row_number().over(wv)).withColumn(
        "n", F.count(F.lit(1)).over(Window.partitionBy("grp"))
    )
    idx = df.sparkSession.range(1, n_ranges).select(
        F.col("id").cast("long").alias("bound_idx")
    )
    return (
        ranked.crossJoin(F.broadcast(idx))
        .filter(
            F.col("rn")
            == F.expr(f"(n * bound_idx + {n_ranges} - 1) DIV {n_ranges}")
        )
        .select("bound_idx", F.col("v").cast("long").alias("upper"))
        .orderBy("bound_idx")
    )


def range_bounds_oracle_sql(
    source_sql: str,
    key_expr: str,
    value_expr: str,
    n_ranges: int = 8,
    k: int = 256,
) -> str:
    """DuckDB replay twin of :func:`range_bounds`."""
    h = md5_60_sql(f"concat_ws('|', 'qsk', CAST({key_expr} AS VARCHAR))")
    return f"""
    WITH hashed AS (
      SELECT h, min(v) AS v FROM (
        SELECT {h} AS h, CAST({value_expr} AS BIGINT) AS v
        FROM ({source_sql})
      ) GROUP BY 1
    ),
    topk AS (
      SELECT h, v FROM (
        SELECT h, v, row_number() OVER (ORDER BY h) AS rn FROM hashed
      ) WHERE rn <= {k}
    ),
    ranked AS (
      SELECT v, row_number() OVER (ORDER BY v, h) AS rn,
             count(*) OVER () AS n
      FROM topk
    )
    SELECT CAST(i AS BIGINT) AS bound_idx, CAST(v AS BIGINT) AS upper
    FROM ranked, generate_series(1, {n_ranges - 1}) AS t(i)
    WHERE rn = (n * i + {n_ranges} - 1) // {n_ranges}
    ORDER BY bound_idx
    """


def bitmap_distinct_rollup(
    df: DataFrame,
    key: Column | str,
    group: Column | str,
    group_name: str = "grp",
    total_label: str = "__all__",
) -> DataFrame:
    """EXACT distinct counts per group PLUS the exact global count from
    MERGING the per-group bitmap tables (word-wise bit_or) — the exact
    twin of :func:`hll_rollup` for BOUNDED non-negative integer key
    domains (surrogate keys, dictionary-encoded ids).  Where HLL trades
    ~0.8% error for fixed 2^p state, the bitmap spends ceil(domain/63)
    words per group and answers exactly; the merge law is identical in
    shape (word-wise OR instead of register-wise max), so per-shard /
    per-group bitmap tables roll up to any coarser grouping over
    bitmap-sized data without rescanning the corpus — the classic OLAP
    bitmap-index distinct accelerator.

    Keys MUST be non-negative integers; map or hash into a bounded
    domain first (the dictionary encode most warehouses already have).
    Output: one (grp, n_words, n_distinct) row per group plus the
    ``total_label`` row from the merged bitmaps, ordered by grp.
    """
    key = F.col(key) if isinstance(key, str) else key
    group = F.col(group) if isinstance(group, str) else group
    base = df.select(
        group.cast("string").alias(group_name),
        key.cast("long").alias("__k"),
    )
    # the bitmap table feeds both grouping levels; persist (bitmap-sized:
    # n_groups * ceil(domain/63) rows) so the corpus scans exactly once
    bm = (
        base.select(
            group_name,
            F.expr("__k DIV 63").alias("word"),
            F.expr(
                "shiftleft(CAST(1 AS BIGINT), CAST(__k % 63 AS INT))"
            ).alias("mask"),
        )
        .groupBy(group_name, "word")
        .agg(F.bit_or("mask").alias("bits"))
        .persist()
    )
    merged = (
        bm.groupBy("word")
        .agg(F.bit_or("bits").alias("bits"))
        .select(F.lit(total_label).alias(group_name), "word", "bits")
    )
    out = (
        bm.unionByName(merged)
        .groupBy(group_name)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_words"),
            F.sum(F.expr("bit_count(bits)")).cast("long").alias("n_distinct"),
        )
        .orderBy(group_name)
    )
    return cut_and_release(out, [bm])


def bitmap_distinct_rollup_oracle_sql(
    source_sql: str,
    key_expr: str,
    group_expr: str,
    group_name: str = "grp",
    total_label: str = "__all__",
) -> str:
    """DuckDB twin of :func:`bitmap_distinct_rollup` (same words, same
    masks, same OR-merge at both levels)."""
    return f"""
    WITH base AS (
      SELECT CAST({group_expr} AS VARCHAR) AS {group_name},
             CAST({key_expr} AS BIGINT) AS k
      FROM ({source_sql})
    ),
    bm AS (
      SELECT {group_name}, k // 63 AS word,
             bit_or(CAST(1 AS BIGINT) << CAST(k % 63 AS INT)) AS bits
      FROM base GROUP BY 1, 2
    ),
    lv AS (
      SELECT {group_name}, word, bits FROM bm
      UNION ALL
      SELECT '{total_label}' AS {group_name}, word, bit_or(bits) AS bits
      FROM bm GROUP BY word
    )
    SELECT {group_name},
           CAST(count(*) AS BIGINT) AS n_words,
           CAST(sum(bit_count(bits)) AS BIGINT) AS n_distinct
    FROM lv
    GROUP BY {group_name}
    ORDER BY {group_name}
    """
