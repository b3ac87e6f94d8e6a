"""Key-distribution diagnostics: the numbers you read before choosing a
partitioning/salting strategy for a join or aggregation key.

``skew_report`` collapses a key column to its count-of-counts cells
(frequency f -> how many keys occur f times) and derives every statistic
from that tiny relation: the corpus never sorts, and the only
single-partition window runs over the cells (bounded by the number of
DISTINCT frequency values — a few hundred even at petabyte scale, since
frequencies concentrate under any realistic distribution).

Everything is exact integer arithmetic until the final quantized floats
(the repo's cross-engine float protocol): rank sums for Gini come from
closed-form runs over the cells, entropy sums quantized per-key terms.

The reference has no profiling operators (row-at-a-time interpreter,
/root/reference/src/adtl/__init__.py); this module is extension surface
alongside tools/dataset_report.py (which profiles whole tables
driver-side — skew_report is the in-plan, oracle-checked operator form).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from adtl_spark.session import cut_and_release


def skew_report(df: DataFrame, key: Column | str, top_k: int = 10) -> DataFrame:
    """One-row skew diagnostic for ``key``:

    - ``n_rows`` / ``n_keys`` — exact totals;
    - ``max_share_q6`` / ``topk_share_q6`` — share of the heaviest key
      and of the ``top_k`` heaviest together (the "how hot is the hot
      key" number that decides salting);
    - ``entropy_q6`` — Shannon entropy of the key distribution in nats
      (log of the effective key count);
    - ``gini_q6`` — Gini coefficient of the key-frequency distribution
      (0 = uniform keys, ->1 = one key dominates).

    Shapes: one map-side-combinable count per key, then a count-of-counts
    aggregate; Gini rank sums use the closed form over frequency runs
    (keys sharing frequency f occupy a contiguous ascending-rank run, so
    ``sum(rank*count)`` for the run is ``f*(m*r0 + m*(m-1)/2)`` — exact
    BIGINT).  Top-k is a TakeOrderedAndProject over the key counts.
    """
    key = F.col(key) if isinstance(key, str) else key
    counts = df.groupBy(key.alias("k")).agg(F.count(F.lit(1)).alias("c"))
    cells = counts.groupBy("c").agg(F.count(F.lit(1)).alias("m"))

    from pyspark.sql import Window

    # ascending-frequency rank runs: keys with smaller counts rank first;
    # r0 = 1 + (number of keys in cells with smaller c)
    w_prev = Window.orderBy("c").rowsBetween(Window.unboundedPreceding, -1)
    ranked = cells.withColumn(
        "r0", F.lit(1) + F.coalesce(F.sum("m").over(w_prev), F.lit(0))
    )
    # per-cell exact contributions
    contrib = ranked.select(
        "c",
        "m",
        (F.col("c") * F.col("m")).alias("rows_in_cell"),
        (
            F.col("c")
            * (
                F.col("m") * F.col("r0")
                + F.expr("(m * (m - 1)) DIV 2")
            )
        ).cast("long").alias("rank_sum"),
    )
    totals = contrib.agg(
        F.coalesce(F.sum("rows_in_cell"), F.lit(0)).cast("long").alias("n_rows"),
        F.coalesce(F.sum("m"), F.lit(0)).cast("long").alias("n_keys"),
        F.coalesce(F.sum("rank_sum"), F.lit(0)).cast("long").alias("s_rank"),
    )
    top = counts.orderBy(F.desc("c"), F.asc("k")).limit(top_k)
    top_stats = top.agg(
        F.coalesce(F.max("c"), F.lit(0)).cast("long").alias("max_c"),
        F.coalesce(F.sum("c"), F.lit(0)).cast("long").alias("topk_c"),
    )
    # entropy from the cells: sum m * (c/N) * ln(N/c).  Floating sums are
    # partition-order-dependent, so the per-KEY term is quantized to an
    # integer at 1e-7 FIRST (the repo protocol: floor(x*1e7+0.5)) and the
    # exact integer products m*t sum in any order; the q6 output divides
    # back by 10 with round-half-up.  Accuracy cost: <= n_keys * 5e-8
    # absolute — a diagnostic-grade bias, and bit-identical both engines.
    ent_cells = cells.crossJoin(F.broadcast(totals.select("n_rows")))
    t_q7 = F.floor(
        (F.col("c").cast("double") / F.col("n_rows"))
        * F.log(F.col("n_rows").cast("double") / F.col("c"))
        * 10000000
        + F.lit(0.5)
    ).cast("long")
    ent = ent_cells.agg(
        F.coalesce(F.sum(F.col("m") * t_q7), F.lit(0)).cast("long").alias("h_q7")
    )
    joined = totals.crossJoin(F.broadcast(top_stats)).crossJoin(F.broadcast(ent))
    n = F.col("n_rows").cast("double")
    k_ = F.col("n_keys").cast("double")
    gini = (
        F.lit(2.0) * F.col("s_rank").cast("double") / (k_ * n)
        - (k_ + F.lit(1.0)) / k_
    )

    def q6(x: Column) -> Column:
        return F.floor(x * 1000000 + F.lit(0.5)).cast("long")

    return joined.select(
        "n_rows",
        "n_keys",
        F.when(F.col("n_rows") > 0, q6(F.col("max_c").cast("double") / n))
        .otherwise(F.lit(None))
        .alias("max_share_q6"),
        F.when(F.col("n_rows") > 0, q6(F.col("topk_c").cast("double") / n))
        .otherwise(F.lit(None))
        .alias("topk_share_q6"),
        F.when(
            F.col("n_rows") > 0, F.expr("(h_q7 + 5) DIV 10")
        ).otherwise(F.lit(None)).alias("entropy_q6"),
        F.when(F.col("n_keys") > 0, q6(gini)).otherwise(F.lit(None)).alias(
            "gini_q6"
        ),
    )


def skew_report_oracle_sql(
    source_sql: str, key_expr: str, top_k: int = 10
) -> str:
    """DuckDB replay twin of :func:`skew_report` — same cells, same
    closed-form rank sums, same float op order."""
    return f"""
    WITH counts AS (
      SELECT {key_expr} AS k, count(*) AS c FROM ({source_sql}) GROUP BY 1
    ),
    cells AS (SELECT c, count(*) AS m FROM counts GROUP BY c),
    ranked AS (
      SELECT c, m,
             1 + CAST(coalesce(sum(m) OVER (ORDER BY c
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
               AS r0
      FROM cells
    ),
    contrib AS (
      SELECT c, m, c * m AS rows_in_cell,
             CAST(c * (m * r0 + (m * (m - 1)) // 2) AS BIGINT) AS rank_sum
      FROM ranked
    ),
    totals AS (
      SELECT CAST(coalesce(sum(rows_in_cell), 0) AS BIGINT) AS n_rows,
             CAST(coalesce(sum(m), 0) AS BIGINT) AS n_keys,
             CAST(coalesce(sum(rank_sum), 0) AS BIGINT) AS s_rank
      FROM contrib
    ),
    top AS (
      SELECT CAST(coalesce(max(c), 0) AS BIGINT) AS max_c,
             CAST(coalesce(sum(c), 0) AS BIGINT) AS topk_c
      FROM (SELECT c FROM counts ORDER BY c DESC, k ASC LIMIT {top_k})
    ),
    ent AS (
      SELECT CAST(coalesce(sum(
               m * CAST(floor(
                 (CAST(c AS DOUBLE) / n_rows)
                   * ln(CAST(n_rows AS DOUBLE) / c)
                   * 10000000 + 0.5) AS BIGINT)
             ), 0) AS BIGINT) AS h_q7
      FROM cells CROSS JOIN totals
    )
    SELECT n_rows, n_keys,
           CASE WHEN n_rows > 0 THEN CAST(floor(CAST(max_c AS DOUBLE) / CAST(n_rows AS DOUBLE) * 1000000 + 0.5) AS BIGINT) END AS max_share_q6,
           CASE WHEN n_rows > 0 THEN CAST(floor(CAST(topk_c AS DOUBLE) / CAST(n_rows AS DOUBLE) * 1000000 + 0.5) AS BIGINT) END AS topk_share_q6,
           CASE WHEN n_rows > 0 THEN (h_q7 + 5) // 10 END AS entropy_q6,
           CASE WHEN n_keys > 0 THEN CAST(floor(
             (2.0 * CAST(s_rank AS DOUBLE) / (CAST(n_keys AS DOUBLE) * CAST(n_rows AS DOUBLE))
              - (CAST(n_keys AS DOUBLE) + 1.0) / CAST(n_keys AS DOUBLE)) * 1000000 + 0.5) AS BIGINT) END AS gini_q6
    FROM totals CROSS JOIN top CROSS JOIN ent
    """


def join_cardinality(
    left: DataFrame,
    right: DataFrame,
    left_key: Column | str,
    right_key: Column | str | None = None,
    top_k: int = 10,
) -> DataFrame:
    """One-row pre-join planning diagnostic: the EXACT inner-join output
    cardinality and its key concentration, computed from per-key count
    tables — i.e. "how big is this join and is one key about to blow up
    the shuffle", answered WITHOUT running the join.

    - ``n_left`` / ``n_right`` / ``keys_left`` / ``keys_right`` — exact
      row and distinct-key totals per side;
    - ``shared_keys`` — keys present on both sides (SQL join semantics:
      null keys never match, so they are excluded here too);
    - ``join_rows`` — sum over shared keys of n_l * n_r: the exact
      inner-join output size;
    - ``max_key_pairs`` — the heaviest single key's contribution (the
      task that will straggle);
    - ``topk_share_q6`` — share of join_rows owned by the ``top_k``
      heaviest keys (the salting decision number; 0 when the join is
      empty).

    Scale shape: one map-side-combinable count per side, a key-grain
    join of the two COUNT tables (orders of magnitude smaller than the
    data join being planned), a TakeOrderedAndProject for the top-k,
    and one-row aggregates.  All integer-exact until the final
    quantized share (the repo's cross-engine float protocol).  The
    n_l * n_r products and their sum are BIGINT — overflow-safe until
    the join being planned is itself ~9e18 output rows, at which point
    the answer ("do not run this join") is already legible.
    """
    lk = F.col(left_key) if isinstance(left_key, str) else left_key
    rk = (
        lk
        if right_key is None
        else (F.col(right_key) if isinstance(right_key, str) else right_key)
    )
    counts_l = left.groupBy(lk.alias("k")).agg(F.count(F.lit(1)).alias("n_l"))
    counts_r = right.groupBy(rk.alias("k")).agg(F.count(F.lit(1)).alias("n_r"))
    stats_l = counts_l.agg(
        F.coalesce(F.sum("n_l"), F.lit(0)).alias("n_left"),
        F.count(F.lit(1)).alias("keys_left"),
    )
    stats_r = counts_r.agg(
        F.coalesce(F.sum("n_r"), F.lit(0)).alias("n_right"),
        F.count(F.lit(1)).alias("keys_right"),
    )
    pairs = counts_l.join(counts_r, "k").select(
        "k", (F.col("n_l") * F.col("n_r")).alias("p")
    )
    shared = pairs.agg(
        F.count(F.lit(1)).alias("shared_keys"),
        F.coalesce(F.sum("p"), F.lit(0)).alias("join_rows"),
        F.coalesce(F.max("p"), F.lit(0)).alias("max_key_pairs"),
    )
    top = (
        pairs.orderBy(F.desc("p"), F.asc("k"))
        .limit(top_k)
        .agg(F.coalesce(F.sum("p"), F.lit(0)).alias("top_pairs"))
    )
    share = F.when(
        F.col("join_rows") > 0,
        F.floor(
            F.col("top_pairs").cast("double")
            / F.col("join_rows").cast("double")
            * 1000000
            + F.lit(0.5)
        ).cast("long"),
    ).otherwise(F.lit(0).cast("long"))
    return (
        stats_l.crossJoin(F.broadcast(stats_r))
        .crossJoin(F.broadcast(shared))
        .crossJoin(F.broadcast(top))
        .select(
            F.col("n_left").cast("long").alias("n_left"),
            F.col("n_right").cast("long").alias("n_right"),
            F.col("keys_left").cast("long").alias("keys_left"),
            F.col("keys_right").cast("long").alias("keys_right"),
            F.col("shared_keys").cast("long").alias("shared_keys"),
            F.col("join_rows").cast("long").alias("join_rows"),
            F.col("max_key_pairs").cast("long").alias("max_key_pairs"),
            share.alias("topk_share_q6"),
        )
    )


def join_cardinality_oracle_sql(
    left_sql: str,
    right_sql: str,
    left_key: str,
    right_key: str,
    top_k: int = 10,
) -> str:
    """DuckDB twin of join_cardinality over arbitrary side subqueries
    (same null-key exclusion via the inner count join, same top-k
    tie-break on ascending key, same quantized share)."""
    return f"""
      WITH cl AS (
        SELECT {left_key} AS k, CAST(count(*) AS BIGINT) AS n_l
        FROM ({left_sql}) GROUP BY 1
      ),
      cr AS (
        SELECT {right_key} AS k, CAST(count(*) AS BIGINT) AS n_r
        FROM ({right_sql}) GROUP BY 1
      ),
      sl AS (
        SELECT CAST(coalesce(sum(n_l), 0) AS BIGINT) AS n_left,
               CAST(count(*) AS BIGINT) AS keys_left
        FROM cl
      ),
      sr AS (
        SELECT CAST(coalesce(sum(n_r), 0) AS BIGINT) AS n_right,
               CAST(count(*) AS BIGINT) AS keys_right
        FROM cr
      ),
      pairs AS (
        SELECT cl.k, n_l * n_r AS p FROM cl JOIN cr ON cl.k = cr.k
      ),
      sh AS (
        SELECT CAST(count(*) AS BIGINT) AS shared_keys,
               CAST(coalesce(sum(p), 0) AS BIGINT) AS join_rows,
               CAST(coalesce(max(p), 0) AS BIGINT) AS max_key_pairs
        FROM pairs
      ),
      tp AS (
        SELECT CAST(coalesce(sum(p), 0) AS BIGINT) AS top_pairs
        FROM (SELECT p FROM pairs ORDER BY p DESC, k ASC LIMIT {top_k})
      )
      SELECT n_left, n_right, keys_left, keys_right, shared_keys,
             join_rows, max_key_pairs,
             CASE WHEN join_rows > 0
                  THEN CAST(floor(CAST(top_pairs AS DOUBLE)
                                  / CAST(join_rows AS DOUBLE)
                                  * 1000000 + 0.5) AS BIGINT)
                  ELSE CAST(0 AS BIGINT) END AS topk_share_q6
      FROM sl CROSS JOIN sr CROSS JOIN sh CROSS JOIN tp
    """


def robust_outliers(
    df: DataFrame,
    value: Column | str,
    id_col: str,
    z_q4: int = 35000,
    max_points: int | None = None,
) -> DataFrame:
    """Robust outlier detection by the modified z-score (Iglewicz &
    Hoaglin): flag rows where 0.6745 * |x - median| / MAD > z — the
    median/MAD pair shrugs off the very outliers a mean/stddev filter
    would let poison its own threshold.

    ``value`` must be an integer-valued expression (quantize floats
    first — the ks_drift contract: the caller owns the discretization).
    Both the median and the MAD (median of |x - median|) are EXACT
    lower medians computed from the value-grain count relation via
    cumulative sums (2*cum >= n picks the lower middle element — the
    same rule in the DuckDB twin), so the entire decision
    0.6745*dev > z*MAD evaluates in integers: 6745 * dev > z_q4 * MAD
    with z_q4 the threshold scaled by 1e4 (35000 = the standard 3.5).

    Scale shape: one map-side-combinable count per distinct value, two
    windows over the value-grain relation (bounded by the value domain,
    not the corpus — ``max_points`` asserts the bound loudly, as in
    ks_drift), then one broadcast of the two scalar rows back over the
    corpus scan for the filter.  A zero MAD (majority at one value)
    flags EVERY deviating row — the loud convention; callers read the
    mad column.

    Output: (id, value, dev, med, mad) for flagged rows, ordered by id.
    """
    from pyspark.sql import Window

    v = F.col(value) if isinstance(value, str) else value
    base = df.select(F.col(id_col).alias("id"), v.cast("long").alias("x"))
    counts = base.groupBy("x").agg(F.count(F.lit(1)).alias("c")).persist()
    if max_points is not None:
        n_points = counts.count()
        if n_points > max_points:
            raise ValueError(
                f"robust_outliers: {n_points} distinct values exceeds "
                f"max_points={max_points}; quantize the value expression"
            )
    tot = counts.agg(F.sum("c").alias("n"))
    w = Window.orderBy("x").rowsBetween(Window.unboundedPreceding, 0)
    med = (
        counts.withColumn("cum", F.sum("c").over(w))
        .crossJoin(F.broadcast(tot))
        .filter(2 * F.col("cum") >= F.col("n"))
        .agg(F.min("x").alias("med"))
    )
    devs = (
        counts.crossJoin(F.broadcast(med))
        .select(F.abs(F.col("x") - F.col("med")).alias("d"), "c")
        .groupBy("d")
        .agg(F.sum("c").alias("c"))
    )
    wd = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    mad = (
        devs.withColumn("cum", F.sum("c").over(wd))
        .crossJoin(F.broadcast(tot))
        .filter(2 * F.col("cum") >= F.col("n"))
        .agg(F.min("d").alias("mad"))
    )
    out = (
        base.crossJoin(F.broadcast(med))
        .crossJoin(F.broadcast(mad))
        .withColumn("dev", F.abs(F.col("x") - F.col("med")))
        .filter(6745 * F.col("dev") > F.lit(z_q4) * F.col("mad"))
        .select(
            "id",
            F.col("x").alias("value"),
            F.col("dev").cast("long").alias("dev"),
            F.col("med").cast("long").alias("med"),
            F.col("mad").cast("long").alias("mad"),
        )
        .orderBy("id")
    )
    return cut_and_release(out, [counts])


def robust_outliers_oracle_sql(
    table_sql: str, value_expr: str, id_expr: str, z_q4: int = 35000
) -> str:
    """DuckDB twin of robust_outliers (same lower-median rule, same
    integer decision)."""
    return f"""
      WITH base AS (
        SELECT {id_expr} AS id, CAST({value_expr} AS BIGINT) AS x
        FROM ({table_sql})
      ),
      counts AS (SELECT x, count(*) AS c FROM base GROUP BY x),
      tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM counts),
      med AS (
        SELECT min(x) AS med FROM (
          SELECT x, sum(c) OVER (ORDER BY x ROWS UNBOUNDED PRECEDING) AS cum
          FROM counts
        ) CROSS JOIN tot WHERE 2 * cum >= n
      ),
      devs AS (
        SELECT abs(x - med) AS d, sum(c) AS c
        FROM counts CROSS JOIN med GROUP BY 1
      ),
      mad AS (
        SELECT min(d) AS mad FROM (
          SELECT d, sum(c) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING) AS cum
          FROM devs
        ) CROSS JOIN tot WHERE 2 * cum >= n
      )
      SELECT id, x AS value,
             CAST(abs(x - med) AS BIGINT) AS dev,
             CAST(med AS BIGINT) AS med,
             CAST(mad AS BIGINT) AS mad
      FROM base CROSS JOIN med CROSS JOIN mad
      WHERE 6745 * abs(x - med) > {z_q4} * mad
      ORDER BY id
    """
