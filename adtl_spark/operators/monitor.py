"""Pipeline monitoring: distribution-drift statistics between corpus
snapshots.

A 100 TB training-data pipeline re-ingests continuously; the question
"did this week's crawl shift under us?" is a per-feature comparison of
two snapshot distributions.  The Population Stability Index is the
standard scalar for it: over a shared bucketing,

    PSI = sum_b (p_b - q_b) * ln(p_b / q_b)

with add-half smoothing so empty buckets stay finite (PSI >= 0; ~0.1 is
"watch", ~0.25 is "investigate").

Scale shape: one narrow projection per snapshot -> a <= n_buckets-row
aggregation each -> a bucket-grain join of two tiny relations.  The
corpus is scanned once per side and never shuffled at row grain; the
expensive inputs can be the SAME scan filtered two ways (Catalyst prunes
to the bucket + split columns).

Cross-engine exactness: counts are integers, smoothed p/q are single
correctly-rounded divisions, ln goes through libm on bit-identical
doubles (the protocol every LM scorer here already relies on,
operators/corpus.py), and outputs quantize via floor(x*1e6+0.5).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from adtl_spark.session import cut_and_release


def _q6(x: Column) -> Column:
    return F.floor(x * 1000000 + F.lit(0.5)).cast("long")


def psi_drift(
    ref: DataFrame,
    cur: DataFrame,
    bucket: Column,
    n_buckets: int,
) -> DataFrame:
    """Per-bucket PSI decomposition between a reference snapshot and a
    current snapshot, bucketed by ``bucket`` (an expression over the
    input columns yielding values in [0, n_buckets); the caller owns the
    bucketing so numeric, categorical, and hashed features all reduce to
    the same contract).

    Output, one row per OCCUPIED bucket ordered by bucket id:
    (bucket, n_ref, n_cur, p_q6, q_q6, psi_q6) where p/q are the smoothed
    shares (cnt + 0.5) / (N + 0.5 * n_buckets) and psi_q6 the bucket's
    quantized PSI contribution; sum(psi_q6)/1e6 is the headline index.
    Unoccupied buckets contribute (p-q)*ln(p/q) = 0 exactly and are
    omitted.
    """
    # tag-and-union instead of a full-outer histogram join: a single
    # map-side-combinable aggregation produces both counts per bucket
    # (absent-on-one-side buckets fall out as zeros), so the whole report
    # is one shuffle of <= n_buckets rows — no join strategy to regress
    tagged = ref.select(
        bucket.alias("bucket"), F.lit(1).alias("__r"), F.lit(0).alias("__c")
    ).unionByName(
        cur.select(
            bucket.alias("bucket"), F.lit(0).alias("__r"), F.lit(1).alias("__c")
        )
    )
    counts = tagged.groupBy("bucket").agg(
        F.sum("__r").alias("n_ref"), F.sum("__c").alias("n_cur")
    )
    tot = counts.agg(
        F.sum("n_ref").alias("ref_total"), F.sum("n_cur").alias("cur_total")
    )
    joined = counts.crossJoin(F.broadcast(tot))
    p = (F.col("n_ref") + 0.5) / (F.col("ref_total") + 0.5 * n_buckets)
    q = (F.col("n_cur") + 0.5) / (F.col("cur_total") + 0.5 * n_buckets)
    return (
        joined.select(
            F.col("bucket").cast("long").alias("bucket"),
            F.col("n_ref").cast("long").alias("n_ref"),
            F.col("n_cur").cast("long").alias("n_cur"),
            _q6(p).alias("p_q6"),
            _q6(q).alias("q_q6"),
            _q6((p - q) * F.log(p / q)).alias("psi_q6"),
        )
        .orderBy("bucket")
    )


def psi_drift_oracle_sql(
    table: str,
    ref_where: str,
    cur_where: str,
    bucket_expr: str,
    n_buckets: int,
) -> str:
    """DuckDB twin of psi_drift where both snapshots are ``table`` rows
    split by the given WHERE predicates and bucketed by ``bucket_expr``
    (same smoothing, same ln, same 1e-6 quantization)."""
    smooth = f"0.5 * {n_buckets}"
    return f"""
      WITH r AS (
        SELECT {bucket_expr} AS bucket, count(*) AS n_ref
        FROM {table} WHERE {ref_where} GROUP BY 1
      ),
      c AS (
        SELECT {bucket_expr} AS bucket, count(*) AS n_cur
        FROM {table} WHERE {cur_where} GROUP BY 1
      ),
      rt AS (SELECT sum(n_ref) AS ref_total FROM r),
      ct AS (SELECT sum(n_cur) AS cur_total FROM c),
      j AS (
        SELECT COALESCE(r.bucket, c.bucket) AS bucket,
               COALESCE(n_ref, 0) AS n_ref,
               COALESCE(n_cur, 0) AS n_cur,
               (COALESCE(n_ref, 0) + 0.5) / (ref_total + {smooth}) AS p,
               (COALESCE(n_cur, 0) + 0.5) / (cur_total + {smooth}) AS q
        FROM r FULL OUTER JOIN c ON r.bucket = c.bucket
        CROSS JOIN rt CROSS JOIN ct
      )
      SELECT CAST(bucket AS BIGINT) AS bucket,
             CAST(n_ref AS BIGINT) AS n_ref,
             CAST(n_cur AS BIGINT) AS n_cur,
             CAST(floor(p * 1000000 + 0.5) AS BIGINT) AS p_q6,
             CAST(floor(q * 1000000 + 0.5) AS BIGINT) AS q_q6,
             CAST(floor((p - q) * ln(p / q) * 1000000 + 0.5) AS BIGINT)
               AS psi_q6
      FROM j
      ORDER BY bucket
    """


def ks_drift(
    ref: DataFrame,
    cur: DataFrame,
    value: Column,
    max_points: int | None = None,
) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov drift statistic between snapshots:
    D = max over observed values of |CDF_ref(x) - CDF_cur(x)| — the
    location-sensitive complement of :func:`psi_drift` (PSI sees share
    shifts inside fixed buckets; KS sees where along the axis the mass
    moved, with no bucketing choice to get wrong).

    ``value`` must be an integer-valued expression (quantize floats
    first — the same contract as psi_drift's bucketing: the caller owns
    the discretization).  The CDF comparison runs at value grain: one
    tag-and-union aggregation to (value, n_ref, n_cur), then running
    sums ordered by value.  That final window is a single partition over
    the DISTINCT-VALUE relation — bounded by the value domain, not the
    corpus (pass ``max_points`` to assert the bound: the operator fails
    loudly rather than sorting an unexpectedly huge domain on one task;
    production features are quantized to <= ~1e5 points).

    Output: ONE row (n_ref, n_cur, d_q6, d_at) — the statistic quantized
    at 1e-6 and the smallest value where the maximum gap is attained.
    An empty snapshot (on either side) has CDF 0 everywhere by
    convention, so the report is the loud maximal D = 1.0, not an empty
    relation; only both-sides-empty input yields no rows.
    Exactness: CDFs are exact-integer running counts over exact totals;
    each CDF is one correctly-rounded division, the gap is one
    subtraction, abs is exact — bit-identical in the DuckDB twin.
    """
    from pyspark.sql import Window

    tagged = ref.select(
        value.alias("v"), F.lit(1).alias("__r"), F.lit(0).alias("__c")
    ).unionByName(
        cur.select(value.alias("v"), F.lit(0).alias("__r"), F.lit(1).alias("__c"))
    )
    # persisted: the value-grain relation feeds the totals, the CDF
    # window, and the argmax re-scan; it is bounded by the value domain
    # (see max_points), so caching it is model-sized, while recompute
    # would re-aggregate the corpus once per consumer
    counts = tagged.groupBy("v").agg(
        F.sum("__r").alias("nr"), F.sum("__c").alias("nc")
    ).persist()
    if max_points is not None:
        n_points = counts.count()
        if n_points > max_points:
            raise ValueError(
                f"ks_drift: {n_points} distinct values exceeds "
                f"max_points={max_points}; quantize the value expression"
            )
    tot = counts.agg(
        F.sum("nr").alias("ref_total"), F.sum("nc").alias("cur_total")
    )
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    q = (
        counts.withColumn("cum_r", F.sum("nr").over(w))
        .withColumn("cum_c", F.sum("nc").over(w))
        .crossJoin(F.broadcast(tot))
        .select(
            "v",
            "ref_total",
            "cur_total",
            # an EMPTY snapshot has CDF 0 everywhere (greatest(total, 1)
            # keeps the division defined), so one-sided-empty inputs
            # report the maximal D = 1.0 loudly instead of a null-gap
            # empty result; non-degenerate totals are unchanged
            F.floor(
                F.abs(
                    F.col("cum_r") / F.greatest(F.col("ref_total"), F.lit(1))
                    - F.col("cum_c") / F.greatest(F.col("cur_total"), F.lit(1))
                )
                * 1000000
                + F.lit(0.5)
            )
            .cast("long")
            .alias("g_q6"),
        )
    )

    dmax = q.agg(F.max("g_q6").alias("d_q6"))
    result = (
        q.crossJoin(F.broadcast(dmax))
        .filter(F.col("g_q6") == F.col("d_q6"))
        .groupBy("ref_total", "cur_total", "d_q6")
        .agg(F.min("v").cast("long").alias("d_at"))
        .select(
            F.col("ref_total").cast("long").alias("n_ref"),
            F.col("cur_total").cast("long").alias("n_cur"),
            "d_q6",
            "d_at",
        )
    )
    # one-row result; release the persisted value-grain relation
    return cut_and_release(result, [counts])


def ks_drift_oracle_sql(
    table: str, ref_where: str, cur_where: str, value_expr: str
) -> str:
    """DuckDB twin of ks_drift over ``table`` rows split by the WHERE
    predicates (same tag-and-union CDF, same quantization, same
    smallest-value tie-break for d_at)."""
    return f"""
      WITH tagged AS (
        SELECT {value_expr} AS v, 1 AS r, 0 AS c FROM {table} WHERE {ref_where}
        UNION ALL
        SELECT {value_expr} AS v, 0 AS r, 1 AS c FROM {table} WHERE {cur_where}
      ),
      counts AS (SELECT v, sum(r) AS nr, sum(c) AS nc FROM tagged GROUP BY v),
      tot AS (
        SELECT sum(nr) AS ref_total, sum(nc) AS cur_total FROM counts
      ),
      cdf AS (
        SELECT v, ref_total, cur_total,
               abs(CAST(sum(nr) OVER (ORDER BY v) AS DOUBLE)
                     / greatest(ref_total, 1)
                   - CAST(sum(nc) OVER (ORDER BY v) AS DOUBLE)
                     / greatest(cur_total, 1))
                 AS gap
        FROM counts CROSS JOIN tot
      ),
      q AS (
        SELECT v, ref_total, cur_total,
               CAST(floor(gap * 1000000 + 0.5) AS BIGINT) AS g_q6
        FROM cdf
      ),
      dmax AS (SELECT max(g_q6) AS d_q6 FROM q)
      SELECT CAST(ref_total AS BIGINT) AS n_ref,
             CAST(cur_total AS BIGINT) AS n_cur,
             d_q6,
             CAST(min(v) AS BIGINT) AS d_at
      FROM q CROSS JOIN dmax
      WHERE g_q6 = d_q6
      GROUP BY ref_total, cur_total, d_q6
    """


def vocab_js_drift(
    ref: DataFrame,
    cur: DataFrame,
    text_col: str = "text",
    vocab_k: int = 64,
    oov_label: str = "__oov__",
) -> DataFrame:
    """Lexical drift between two corpus snapshots: per-token
    Jensen-Shannon divergence contributions over the union top-K
    vocabulary plus one OOV cell — the companion to :func:`psi_drift`
    (numeric feature shares) and :func:`ks_drift` (numeric location)
    for the TOKEN distribution itself, i.e. "did the language change",
    not just the metadata.

        JS = sum_cells 0.5 * (p*ln(p/m) + q*ln(q/m)),  m = (p+q)/2

    with add-half smoothing over K+1 cells, so JS is finite, symmetric
    and bounded by ln 2.  Lumping everything outside the top-K into one
    OOV cell keeps the statistic exact over the WHOLE corpus (cell
    counts always sum to the totals) while bounding state at K+1 rows.

    Scale shape: one tag-and-union token aggregation (map-side
    combinable, token-grain shuffle — the same cost class as training a
    unigram LM), a TakeOrderedAndProject top-K, and arithmetic over
    K+1 rows.  The token-count relation feeds three consumers (top-K,
    totals, OOV remainder), so it is persisted and released per the repo
    contract.

    Output, one row per cell ordered by token (OOV last by its label
    sorting, counts included): (token, n_ref, n_cur, p_q6, q_q6, js_q6);
    sum(js_q6)/1e6 is the headline divergence.  Both-sides-empty input
    yields the single zero-drift OOV row.
    """
    from adtl_spark.operators.text import tokens

    tagged = ref.select(
        F.explode(tokens(F.col(text_col))).alias("token"),
        F.lit(1).alias("__r"),
        F.lit(0).alias("__c"),
    ).unionByName(
        cur.select(
            F.explode(tokens(F.col(text_col))).alias("token"),
            F.lit(0).alias("__r"),
            F.lit(1).alias("__c"),
        )
    )
    counts = (
        tagged.groupBy("token")
        .agg(F.sum("__r").alias("n_ref"), F.sum("__c").alias("n_cur"))
        .persist()
    )
    tot = counts.agg(
        F.coalesce(F.sum("n_ref"), F.lit(0)).alias("ref_total"),
        F.coalesce(F.sum("n_cur"), F.lit(0)).alias("cur_total"),
    )
    top = (
        counts.withColumn("__t", F.col("n_ref") + F.col("n_cur"))
        .orderBy(F.desc("__t"), F.asc("token"))
        .limit(vocab_k)
        .drop("__t")
    )
    top_sums = top.agg(
        F.coalesce(F.sum("n_ref"), F.lit(0)).alias("tr"),
        F.coalesce(F.sum("n_cur"), F.lit(0)).alias("tc"),
    )
    oov = tot.crossJoin(F.broadcast(top_sums)).select(
        F.lit(oov_label).alias("token"),
        (F.col("ref_total") - F.col("tr")).alias("n_ref"),
        (F.col("cur_total") - F.col("tc")).alias("n_cur"),
    )
    cells = top.unionByName(oov)
    joined = cells.crossJoin(F.broadcast(tot))
    smooth = 0.5 * (vocab_k + 1)
    p = (F.col("n_ref") + 0.5) / (F.col("ref_total") + smooth)
    q = (F.col("n_cur") + 0.5) / (F.col("cur_total") + smooth)
    m = (p + q) / 2
    js = 0.5 * (p * F.log(p / m) + q * F.log(q / m))
    out = joined.select(
        F.col("token"),
        F.col("n_ref").cast("long").alias("n_ref"),
        F.col("n_cur").cast("long").alias("n_cur"),
        _q6(p).alias("p_q6"),
        _q6(q).alias("q_q6"),
        _q6(js).alias("js_q6"),
    ).orderBy("token")
    return cut_and_release(out, [counts])


def vocab_js_drift_oracle_sql(
    table: str,
    ref_where: str,
    cur_where: str,
    vocab_k: int = 64,
    oov_label: str = "__oov__",
) -> str:
    """DuckDB twin of vocab_js_drift over ``table`` rows split by the
    WHERE predicates (same tokenizer, same top-K tie-break, same
    smoothing, same ln/quantization)."""
    smooth = f"0.5 * {vocab_k + 1}"
    toks = (
        "SELECT unnest(list_filter(string_split_regex(lower(text), '\\s+'),"
        " t -> t != '')) AS token, {r} AS r, {c} AS c"
        " FROM {table} WHERE {where}"
    )
    return f"""
      WITH tagged AS (
        {toks.format(r=1, c=0, table=table, where=ref_where)}
        UNION ALL
        {toks.format(r=0, c=1, table=table, where=cur_where)}
      ),
      counts AS (
        SELECT token, CAST(sum(r) AS BIGINT) AS n_ref,
               CAST(sum(c) AS BIGINT) AS n_cur
        FROM tagged GROUP BY token
      ),
      tot AS (
        SELECT CAST(coalesce(sum(n_ref), 0) AS BIGINT) AS ref_total,
               CAST(coalesce(sum(n_cur), 0) AS BIGINT) AS cur_total
        FROM counts
      ),
      top AS (
        SELECT token, n_ref, n_cur FROM counts
        ORDER BY n_ref + n_cur DESC, token ASC LIMIT {vocab_k}
      ),
      top_sums AS (
        SELECT CAST(coalesce(sum(n_ref), 0) AS BIGINT) AS tr,
               CAST(coalesce(sum(n_cur), 0) AS BIGINT) AS tc
        FROM top
      ),
      cells AS (
        SELECT token, n_ref, n_cur FROM top
        UNION ALL
        SELECT '{oov_label}' AS token,
               ref_total - tr AS n_ref, cur_total - tc AS n_cur
        FROM tot CROSS JOIN top_sums
      ),
      j AS (
        SELECT token, n_ref, n_cur,
               (n_ref + 0.5) / (ref_total + {smooth}) AS p,
               (n_cur + 0.5) / (cur_total + {smooth}) AS q
        FROM cells CROSS JOIN tot
      )
      SELECT token,
             CAST(n_ref AS BIGINT) AS n_ref,
             CAST(n_cur AS BIGINT) AS n_cur,
             CAST(floor(p * 1000000 + 0.5) AS BIGINT) AS p_q6,
             CAST(floor(q * 1000000 + 0.5) AS BIGINT) AS q_q6,
             CAST(floor(0.5 * (p * ln(p / ((p + q) / 2))
                              + q * ln(q / ((p + q) / 2)))
                  * 1000000 + 0.5) AS BIGINT) AS js_q6
      FROM j
      ORDER BY token
    """


def chi2_drift(ref: DataFrame, cur: DataFrame, category: Column) -> DataFrame:
    """Pearson chi-square homogeneity decomposition between snapshots
    over a CATEGORICAL feature — the unordered complement of
    :func:`psi_drift` (PSI needs a bucketing with an order/width choice;
    chi-square treats categories as pure labels and weights cells by
    expected count, so rare-category shifts register proportionally).

    Per category, with row_total = n_ref + n_cur and grand = N_ref +
    N_cur, the expected counts are E_s = row_total * N_s / grand and the
    contribution is sum_s (O_s - E_s)^2 / E_s; sum(chi2_q6)/1e6 is the
    headline statistic (df = categories - 1).

    Scale shape: identical to psi_drift — one tag-and-union map-side
    combinable aggregation to category grain, a broadcast totals row,
    arithmetic over <= |categories| rows; the corpus never shuffles at
    row grain.

    Exactness: counts and the row_total * N_s products are exact BIGINT
    arithmetic (the products bound the input at ~3e9 rows per side
    before BIGINT overflow — quantize categories first at that scale);
    each E_s is one correctly-rounded division and each term three more
    IEEE ops, bit-identical in DuckDB.  A one-sided-empty input yields
    E = O for every cell on the occupied side, i.e. chi2 = 0 exactly:
    homogeneity is undefined without both margins, so callers read the
    n_ref/n_cur columns for that case (documented, tested).

    Output, one row per category ordered by the STRING category label:
    (category, n_ref, n_cur, e_ref_q6, e_cur_q6, chi2_q6).
    """
    tagged = ref.select(
        category.cast("string").alias("category"),
        F.lit(1).alias("__r"),
        F.lit(0).alias("__c"),
    ).unionByName(
        cur.select(
            category.cast("string").alias("category"),
            F.lit(0).alias("__r"),
            F.lit(1).alias("__c"),
        )
    )
    counts = tagged.groupBy("category").agg(
        F.sum("__r").alias("n_ref"), F.sum("__c").alias("n_cur")
    )
    tot = counts.agg(
        F.sum("n_ref").alias("ref_total"), F.sum("n_cur").alias("cur_total")
    )
    j = counts.crossJoin(F.broadcast(tot))
    row_total = F.col("n_ref") + F.col("n_cur")
    grand = F.col("ref_total") + F.col("cur_total")
    e_ref = (row_total * F.col("ref_total")) / grand
    e_cur = (row_total * F.col("cur_total")) / grand
    term_ref = F.when(
        e_ref > 0, (F.col("n_ref") - e_ref) * (F.col("n_ref") - e_ref) / e_ref
    ).otherwise(F.lit(0.0))
    term_cur = F.when(
        e_cur > 0, (F.col("n_cur") - e_cur) * (F.col("n_cur") - e_cur) / e_cur
    ).otherwise(F.lit(0.0))
    return j.select(
        "category",
        F.col("n_ref").cast("long").alias("n_ref"),
        F.col("n_cur").cast("long").alias("n_cur"),
        _q6(e_ref).alias("e_ref_q6"),
        _q6(e_cur).alias("e_cur_q6"),
        _q6(term_ref + term_cur).alias("chi2_q6"),
    ).orderBy("category")


def chi2_drift_oracle_sql(
    table: str, ref_where: str, cur_where: str, category_expr: str
) -> str:
    """DuckDB twin of chi2_drift over ``table`` rows split by the WHERE
    predicates (same expected-count arithmetic, same term order, same
    1e-6 quantization)."""
    return f"""
      WITH tagged AS (
        SELECT CAST({category_expr} AS VARCHAR) AS category, 1 AS r, 0 AS c
        FROM {table} WHERE {ref_where}
        UNION ALL
        SELECT CAST({category_expr} AS VARCHAR) AS category, 0 AS r, 1 AS c
        FROM {table} WHERE {cur_where}
      ),
      counts AS (
        SELECT category, CAST(sum(r) AS BIGINT) AS n_ref,
               CAST(sum(c) AS BIGINT) AS n_cur
        FROM tagged GROUP BY category
      ),
      tot AS (
        SELECT CAST(sum(n_ref) AS BIGINT) AS ref_total,
               CAST(sum(n_cur) AS BIGINT) AS cur_total
        FROM counts
      ),
      j AS (
        SELECT category, n_ref, n_cur,
               ((n_ref + n_cur) * ref_total) / (ref_total + cur_total) AS e_ref,
               ((n_ref + n_cur) * cur_total) / (ref_total + cur_total) AS e_cur
        FROM counts CROSS JOIN tot
      )
      SELECT category,
             n_ref,
             n_cur,
             CAST(floor(e_ref * 1000000 + 0.5) AS BIGINT) AS e_ref_q6,
             CAST(floor(e_cur * 1000000 + 0.5) AS BIGINT) AS e_cur_q6,
             CAST(floor((
               (CASE WHEN e_ref > 0
                     THEN (n_ref - e_ref) * (n_ref - e_ref) / e_ref
                     ELSE 0.0 END)
               + (CASE WHEN e_cur > 0
                       THEN (n_cur - e_cur) * (n_cur - e_cur) / e_cur
                       ELSE 0.0 END)
             ) * 1000000 + 0.5) AS BIGINT) AS chi2_q6
      FROM j
      ORDER BY category
    """


def centroid_drift(
    ref: DataFrame,
    cur: DataFrame,
    vec_col: str = "embedding",
    label_col: str | None = None,
) -> DataFrame:
    """Embedding-space drift between snapshots: per label (or one global
    row), the geometry of the two snapshot CENTROIDS — cosine between
    them, the L2 shift, and the norm ratio.  This is the drift monitor
    for the representation itself: PSI/KS/chi2 see metadata and token
    distributions; a retrained or silently-updated embedding model moves
    the centroids even when every scalar feature looks stable.

    Scale shape: posexplode to (label, dim) grain with map-side partial
    aggregation — only |labels| * dim * n_partitions cells shuffle, the
    vectors themselves never do (label_centroids' shape, tagged twice);
    everything after is arithmetic over |labels| rows of dim-length
    arrays.

    Exactness: per-dimension means are ratios of exact integers (the
    repo's 1e-6 floor-quantize protocol) divided in the fixed
    (qsum / n) / 1e6 order; means assemble into dim-ORDERED arrays and
    every dot product is the shared left-to-right fold
    (``F.aggregate`` = ``list_dot_product``); cos/shift/ratio are short
    chains of correctly-rounded IEEE ops with shift2 clamped at 0 before
    sqrt (it can round epsilon-negative at zero drift).  Labels present
    on only ONE side are omitted — centroid geometry needs both points;
    callers diff the label sets separately (chi2_drift on the label
    column is the companion for that).

    Output, one row per shared label ordered by label: (label, n_ref,
    n_cur, cos_q6, shift_q6, ratio_q6) with ratio = |centroid_cur| /
    |centroid_ref|.
    """
    lab = (
        F.col(label_col).cast("long") if label_col else F.lit(0).cast("long")
    )
    tagged = ref.select(
        lab.alias("label"),
        F.posexplode(F.col(vec_col)).alias("dim", "val"),
        F.lit(1).alias("__r"),
        F.lit(0).alias("__c"),
    ).unionByName(
        cur.select(
            lab.alias("label"),
            F.posexplode(F.col(vec_col)).alias("dim", "val"),
            F.lit(0).alias("__r"),
            F.lit(1).alias("__c"),
        )
    )
    q = F.floor(F.col("val").cast("double") * 1000000 + F.lit(0.5)).cast("long")
    per = (
        tagged.groupBy("label", "dim")
        .agg(
            F.sum(q * F.col("__r")).alias("qsum_r"),
            F.sum("__r").alias("n_r"),
            F.sum(q * F.col("__c")).alias("qsum_c"),
            F.sum("__c").alias("n_c"),
        )
        .filter((F.col("n_r") > 0) & (F.col("n_c") > 0))
        .select(
            "label",
            "dim",
            "n_r",
            "n_c",
            (F.col("qsum_r").cast("double") / F.col("n_r") / 1000000.0).alias(
                "mr"
            ),
            (F.col("qsum_c").cast("double") / F.col("n_c") / 1000000.0).alias(
                "mc"
            ),
        )
    )
    arrs = (
        per.groupBy("label")
        .agg(
            F.max("n_r").alias("n_ref"),
            F.max("n_c").alias("n_cur"),
            F.sort_array(F.collect_list(F.struct("dim", "mr"))).alias("rs"),
            F.sort_array(F.collect_list(F.struct("dim", "mc"))).alias("cs"),
        )
        .select(
            "label",
            "n_ref",
            "n_cur",
            F.expr("transform(rs, s -> s.mr)").alias("vr"),
            F.expr("transform(cs, s -> s.mc)").alias("vc"),
        )
    )
    fold = (
        "aggregate(zip_with({a}, {b}, (x, y) -> x * y), "
        "CAST(0 AS DOUBLE), (acc, x) -> acc + x)"
    )
    rr = F.expr(fold.format(a="vr", b="vr"))
    cc = F.expr(fold.format(a="vc", b="vc"))
    rc = F.expr(fold.format(a="vr", b="vc"))
    shift2 = F.greatest(rr - 2 * rc + cc, F.lit(0.0))
    return arrs.select(
        F.col("label"),
        F.col("n_ref").cast("long").alias("n_ref"),
        F.col("n_cur").cast("long").alias("n_cur"),
        _q6(rc / (F.sqrt(rr) * F.sqrt(cc))).alias("cos_q6"),
        _q6(F.sqrt(shift2)).alias("shift_q6"),
        _q6(F.sqrt(cc) / F.sqrt(rr)).alias("ratio_q6"),
    ).orderBy("label")


def centroid_drift_oracle_sql(
    table: str,
    ref_where: str,
    cur_where: str,
    dim: int = 64,
    label_expr: str = "label",
) -> str:
    """DuckDB twin of centroid_drift over ``table`` rows split by the
    WHERE predicates (same quantized means, same dim-ordered fold via
    list_dot_product, same clamp/quantization)."""
    side = (
        "SELECT CAST({lab} AS BIGINT) AS label, i - 1 AS dim,"
        " CAST(floor(CAST(embedding[CAST(i AS INT)] AS DOUBLE)"
        " * 1000000 + 0.5) AS BIGINT) AS qv"
        " FROM {table} CROSS JOIN idx WHERE {where}"
    )
    return f"""
      WITH idx AS (SELECT unnest(range(1, {dim + 1})) AS i),
      r AS ({side.format(lab=label_expr, table=table, where=ref_where)}),
      c AS ({side.format(lab=label_expr, table=table, where=cur_where)}),
      pr AS (
        SELECT label, dim,
               CAST(sum(qv) AS DOUBLE) / count(*) / 1000000.0 AS mr,
               count(*) AS n_r
        FROM r GROUP BY 1, 2
      ),
      pc AS (
        SELECT label, dim,
               CAST(sum(qv) AS DOUBLE) / count(*) / 1000000.0 AS mc,
               count(*) AS n_c
        FROM c GROUP BY 1, 2
      ),
      arrs AS (
        SELECT pr.label,
               max(n_r) AS n_ref, max(n_c) AS n_cur,
               list(mr ORDER BY pr.dim) AS vr,
               list(mc ORDER BY pr.dim) AS vc
        FROM pr JOIN pc ON pr.label = pc.label AND pr.dim = pc.dim
        GROUP BY pr.label
      ),
      g AS (
        SELECT label, n_ref, n_cur,
               list_dot_product(vr, vr) AS rr,
               list_dot_product(vc, vc) AS cc,
               list_dot_product(vr, vc) AS rc
        FROM arrs
      )
      SELECT CAST(label AS BIGINT) AS label,
             CAST(n_ref AS BIGINT) AS n_ref,
             CAST(n_cur AS BIGINT) AS n_cur,
             CAST(floor(rc / (sqrt(rr) * sqrt(cc)) * 1000000 + 0.5) AS BIGINT)
               AS cos_q6,
             CAST(floor(sqrt(greatest(rr - 2 * rc + cc, 0.0)) * 1000000 + 0.5)
                  AS BIGINT) AS shift_q6,
             CAST(floor(sqrt(cc) / sqrt(rr) * 1000000 + 0.5) AS BIGINT)
               AS ratio_q6
      FROM g
      ORDER BY label
    """
