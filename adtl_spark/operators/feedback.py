"""Preference / label-quality analytics for feedback datasets.

The RLHF-era companions of the corpus-quality family: pairwise
preference fitting (Bradley-Terry) and inter-annotator agreement
(Cohen's kappa per rater pair, Fleiss' kappa overall).  No reference
counterpart (adtl has no analytics surface; extension per the
training-data-pipeline mandate).

Everything here is pure DataFrame algebra — joins and aggregations with
no UDFs, no windows and no driver-side math — so Catalyst/AQE pick the
physical plan and the shapes scale: the Bradley-Terry iteration state is
one row per ITEM (models are small; comparison logs are big), and the
agreement operators shuffle (item, rater)-grained rows only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from adtl_spark.session import cut, cut_and_release

__all__ = [
    "bradley_terry",
    "winrate_wilson",
    "pairwise_kappa",
    "fleiss_kappa",
    "krippendorff_alpha",
]


def bradley_terry(
    pairs: DataFrame,
    winner_col: str = "winner",
    loser_col: str = "loser",
    iters: int = 2,
    weight_col: str | None = None,
) -> DataFrame:
    """Fit Bradley-Terry strengths from a pairwise-preference log by
    ``iters`` rounds of the classic minorization-maximization update

        s_i  <-  w_i / sum_j n_ij / (s_i + s_j)

    (Hunter 2004, "MM algorithms for generalized Bradley-Terry models"),
    starting from all-ones.  Returns ``(item, strength, wins, games)``
    normalized so strengths sum to the item count (the MM fixed point is
    scale-free; normalizing each round keeps the iteration stable and
    the output comparable across runs).

    Distributed shape: the comparison log collapses ONCE to per-ordered-
    pair counts (the only corpus-sized shuffle); each MM round is then a
    join of the n_ij edge list against the item-sized score vector plus
    one aggregation — at 100 TB of comparisons the edge list is bounded
    by distinct item pairs, and the score vector by items, so iteration
    cost is independent of log size.  Items that never win get strength
    0 (w_i = 0), matching the MM update exactly.

    ``weight_col`` feeds a PRE-COUNTED log — rows of (winner, loser,
    count), e.g. a maintained streaming store — through the identical
    math: the MM update only ever sees sufficient statistics, so the
    weighted fit equals the row-per-comparison fit exactly."""
    w = F.col(winner_col).alias("i")
    l = F.col(loser_col).alias("j")
    # per-ordered-pair win counts, then symmetric games n_ij.  Only
    # wins_ij — the ONE log-sized aggregation — is persisted: every MM
    # round plus the final join re-executes its subtree otherwise (~6
    # executions of the corpus scan for a 2-round fit).  games/wins
    # derive from the cached pair-bounded relation, so recomputing THEM
    # per consumer costs pair-sized shuffles, never another corpus pass.
    if weight_col is None:
        wins_ij = pairs.select(w, l).groupBy("i", "j").count().persist()
    else:
        wins_ij = (
            pairs.select(w, l, F.col(weight_col).alias("__w"))
            .groupBy("i", "j")
            .agg(F.sum("__w").alias("count"))
            .persist()
        )
    games = (
        wins_ij.select("i", "j", "count")
        .unionByName(
            wins_ij.select(
                F.col("j").alias("i"), F.col("i").alias("j"), "count"
            )
        )
        .groupBy("i", "j")
        .agg(F.sum("count").alias("n_ij"))
    )
    wins = wins_ij.groupBy("i").agg(F.sum("count").alias("wins"))
    items = games.select("i").distinct()
    scores = items.select("i", F.lit(1.0).alias("s"))
    n_items = items.count()
    for _ in range(iters):
        opp = games.join(
            scores.select(F.col("i").alias("j"), F.col("s").alias("s_j")),
            "j",
        ).join(scores.select("i", F.col("s").alias("s_i")), "i")
        denom = opp.groupBy("i").agg(
            F.sum(F.col("n_ij") / (F.col("s_i") + F.col("s_j"))).alias("d")
        )
        raw = (
            items.join(wins, "i", "left")
            .join(denom, "i")
            .select(
                "i",
                (F.coalesce(F.col("wins"), F.lit(0)) / F.col("d")).alias(
                    "s"
                ),
            )
        )
        total = raw.agg(F.sum("s").alias("t"))
        scores = raw.crossJoin(F.broadcast(total)).select(
            "i", (F.col("s") * n_items / F.col("t")).alias("s")
        )
        # few iterations, item-sized state: cut the growing lineage so
        # round k+1 doesn't recompute rounds 1..k
        scores = cut(scores)
    tot_games = games.groupBy("i").agg(F.sum("n_ij").alias("games"))
    result = (
        scores.join(wins, "i", "left")
        .join(tot_games, "i")
        .select(
            F.col("i").alias("item"),
            F.col("s").alias("strength"),
            F.coalesce(F.col("wins"), F.lit(0)).alias("wins"),
            F.col("games"),
        )
    )
    # item-sized result — materialize, then release the statistics cache
    return cut_and_release(result, [wins_ij])


def winrate_wilson(
    pairs: DataFrame,
    winner_col: str = "winner",
    loser_col: str = "loser",
    z: float = 1.96,
) -> DataFrame:
    """Per-item win rates with the Wilson score interval lower bound —
    the ranking-safe statistic when items have unequal match counts: a
    2-0 newcomer must not outrank a 70-30 veteran, and sorting by the
    raw rate does exactly that.  Per item over the pairwise-preference
    log: ``(item, games, wins, winrate, wilson_lo)`` with

        wilson_lo = (p + z^2/2n - z*sqrt(p(1-p)/n + z^2/4n^2))
                    / (1 + z^2/n)

    (Wilson 1927; the standard ranking lower bound at confidence z,
    default 1.96 = 95%).  Items that only ever appear as losers get
    p = 0 and a zero lower bound — present, not dropped.

    Distributed shape: the log explodes to (item, win) rows and
    collapses in ONE aggregation — the only corpus-sized shuffle; the
    output is item-grained.  The interval arithmetic is plain double
    math over the two counts (sqrt and divide are correctly rounded
    IEEE operations), so a SQL twin replaying the same expression shape
    reproduces it bit-for-bit."""
    w = pairs.select(F.col(winner_col).alias("item"), F.lit(1).alias("win"))
    lo = pairs.select(F.col(loser_col).alias("item"), F.lit(0).alias("win"))
    per = (
        w.unionByName(lo)
        .groupBy("item")
        .agg(
            F.count(F.lit(1)).cast("long").alias("games"),
            F.sum("win").cast("long").alias("wins"),
        )
    )
    z = float(z)
    z2 = z * z
    n = F.col("games").cast("double")
    p = F.col("wins").cast("double") / n
    center = p + F.lit(z2) / (F.lit(2.0) * n)
    radius = F.lit(z) * F.sqrt(
        p * (F.lit(1.0) - p) / n + F.lit(z2) / (F.lit(4.0) * n * n)
    )
    denom = F.lit(1.0) + F.lit(z2) / n
    return per.select(
        "item",
        "games",
        "wins",
        p.alias("winrate"),
        ((center - radius) / denom).alias("wilson_lo"),
    )


def pairwise_kappa(
    labels: DataFrame,
    item_col: str = "item",
    rater_col: str = "rater",
    label_col: str = "label",
) -> DataFrame:
    """Cohen's kappa for every rater pair that co-labeled at least one
    item: ``(rater_a, rater_b, n_items, po, pe, kappa)`` with

        po = observed agreement rate on co-labeled items
        pe = sum_k p_a(k) * p_b(k)   (chance agreement from each rater's
                                      label marginals on those items)
        kappa = (po - pe) / (1 - pe)   (NULL when pe = 1: degenerate
                                        single-label raters)

    One self-join on the item key produces co-label rows; marginals are
    aggregated from the SAME joined relation, so each rater's
    distribution is computed over exactly the items the pair shares (the
    textbook contingency-table definition), not over their global
    labels."""
    a = labels.select(
        F.col(item_col).alias("item"),
        F.col(rater_col).alias("rater_a"),
        F.col(label_col).alias("label_a"),
    )
    b = labels.select(
        F.col(item_col).alias("item"),
        F.col(rater_col).alias("rater_b"),
        F.col(label_col).alias("label_b"),
    )
    co = a.join(b, "item").filter(F.col("rater_a") < F.col("rater_b"))
    cell = co.groupBy("rater_a", "rater_b", "label_a", "label_b").agg(
        F.count("*").alias("n")
    )
    tot = cell.groupBy("rater_a", "rater_b").agg(
        F.sum("n").alias("n_items"),
        F.sum(F.when(F.col("label_a") == F.col("label_b"), F.col("n"))).alias(
            "agree"
        ),
    )
    ma = cell.groupBy("rater_a", "rater_b", "label_a").agg(
        F.sum("n").alias("na")
    )
    mb = (
        cell.groupBy("rater_a", "rater_b", "label_b")
        .agg(F.sum("n").alias("nb"))
        .select(
            F.col("rater_a").alias("ra2"),
            F.col("rater_b").alias("rb2"),
            F.col("label_b").alias("lbl2"),
            "nb",
        )
    )
    pe = (
        ma.join(
            mb,
            (F.col("rater_a") == F.col("ra2"))
            & (F.col("rater_b") == F.col("rb2"))
            & (F.col("label_a") == F.col("lbl2")),
        )
        .select(
            "rater_a", "rater_b", (F.col("na") * F.col("nb")).alias("ab")
        )
        .groupBy("rater_a", "rater_b")
        .agg(F.sum("ab").alias("pe_num"))
    )
    out = tot.join(pe, ["rater_a", "rater_b"], "left").select(
        "rater_a",
        "rater_b",
        "n_items",
        (F.coalesce(F.col("agree"), F.lit(0)) / F.col("n_items")).alias("po"),
        (
            F.coalesce(F.col("pe_num"), F.lit(0))
            / (F.col("n_items") * F.col("n_items"))
        ).alias("pe"),
    )
    return out.select(
        "rater_a",
        "rater_b",
        "n_items",
        "po",
        "pe",
        F.when(
            F.col("pe") < 1.0,
            (F.col("po") - F.col("pe")) / (1.0 - F.col("pe")),
        ).alias("kappa"),
    )


def fleiss_kappa(
    labels: DataFrame,
    item_col: str = "item",
    rater_col: str = "rater",
    label_col: str = "label",
    n_raters: int | None = None,
) -> DataFrame:
    """Fleiss' kappa over items labeled by exactly ``n_raters`` raters
    (inferred as the modal rater count when not given — Fleiss requires
    a constant panel size, so off-count items are EXCLUDED and counted
    in the output for honesty).  Returns one row:
    ``(n_items, n_raters, p_bar, p_e, kappa, n_excluded)``.

        P_i   = (sum_k n_ik^2 - n) / (n (n - 1))   per item
        P_bar = mean_i P_i
        P_e   = sum_k p_k^2,  p_k = global share of label k
        kappa = (P_bar - P_e) / (1 - P_e)

    Two aggregations over (item, label) counts — no windows, no UDFs."""
    il = (
        labels.groupBy(
            F.col(item_col).alias("item"), F.col(label_col).alias("label")
        )
        .agg(F.count(F.col(rater_col)).alias("n_ik"))
    )
    per_item = il.groupBy("item").agg(
        F.sum("n_ik").alias("n"), F.sum(F.col("n_ik") * F.col("n_ik")).alias("sq")
    )
    if n_raters is None:
        n_raters = (
            per_item.groupBy("n")
            .count()
            .orderBy(F.desc("count"), F.desc("n"))
            .first()["n"]
        )
    kept = per_item.filter(F.col("n") == n_raters)
    excluded = per_item.filter(F.col("n") != n_raters).count()
    n = int(n_raters)
    stats = kept.agg(
        F.count("*").alias("n_items"),
        F.avg((F.col("sq") - n) / (n * (n - 1))).alias("p_bar"),
    )
    pk = (
        il.join(kept.select("item"), "item")
        .groupBy("label")
        .agg(F.sum("n_ik").alias("nk"))
    )
    pe = pk.crossJoin(
        F.broadcast(pk.agg(F.sum("nk").alias("tot")))
    ).agg(F.sum((F.col("nk") / F.col("tot")) ** 2).alias("p_e"))
    return (
        stats.crossJoin(F.broadcast(pe))
        .select(
            "n_items",
            F.lit(n).alias("n_raters"),
            "p_bar",
            "p_e",
            F.when(
                F.col("p_e") < 1.0,
                (F.col("p_bar") - F.col("p_e")) / (1.0 - F.col("p_e")),
            ).alias("kappa"),
            F.lit(excluded).cast("long").alias("n_excluded"),
        )
    )


def krippendorff_alpha(
    labels: DataFrame,
    item_col: str = "item",
    rater_col: str = "rater",
    label_col: str = "label",
) -> DataFrame:
    """Krippendorff's alpha for nominal data (Krippendorff 2004, the
    coincidence-matrix formulation) — the agreement coefficient that
    tolerates MISSING ratings, where Fleiss requires a fixed panel:
    units rated by fewer than 2 raters are excluded (and counted).

        D_o = (1/n) * sum_u (m_u^2 - sum_c n_uc^2) / (m_u - 1)
        D_e = (n^2 - sum_c n_c^2) / (n (n - 1))
        alpha = 1 - D_o / D_e

    with m_u the unit's rating count, n_uc its per-label counts, n_c
    the kept-unit label marginals and n the kept rating total.  The
    per-unit disagreement term is quantized to a 1e-6 integer BEFORE
    summing (the module's drift-gate protocol: integer sums are
    partition-order-free, so Spark and a SQL twin agree bit-for-bit);
    everything else is exact integer marginals.  Two aggregations over
    (item, label) counts — no windows, no UDFs, no self-joins.

    Returns one row: ``(n_units, n_ratings, do_q6_sum, alpha_q6,
    n_excluded)``."""
    il = labels.groupBy(
        F.col(item_col).alias("item"), F.col(label_col).alias("label")
    ).agg(F.count(F.col(rater_col)).alias("n_uc"))
    per = il.groupBy("item").agg(
        F.sum("n_uc").alias("m"),
        F.sum(F.col("n_uc") * F.col("n_uc")).alias("sq"),
    )
    unit_q6 = F.floor(
        (F.col("m") * F.col("m") - F.col("sq"))
        / (F.col("m") - 1)
        * 1000000
        + F.lit(0.5)
    ).cast("long")
    stats = per.agg(
        F.sum(F.when(F.col("m") >= 2, 1).otherwise(0)).alias("n_units"),
        F.sum(F.when(F.col("m") >= 2, F.col("m")).otherwise(0)).alias("n"),
        F.sum(F.when(F.col("m") >= 2, unit_q6).otherwise(0)).alias("do_q6"),
        F.sum(F.when(F.col("m") < 2, 1).otherwise(0)).alias("n_excluded"),
    )
    nc = (
        il.join(per.filter(F.col("m") >= 2).select("item"), "item")
        .groupBy("label")
        .agg(F.sum("n_uc").alias("nc"))
    )
    ncsq = nc.agg(F.sum(F.col("nc") * F.col("nc")).alias("ncsq"))
    d_o = (F.col("do_q6") / 1000000.0) / F.col("n")
    d_e = (F.col("n") * F.col("n") - F.col("ncsq")) / (
        F.col("n") * (F.col("n") - 1.0)
    )
    # d_e = 0 iff every kept rating carries ONE label: alpha is the
    # indeterminate 0/0 — emit NULL, not NaN (Krippendorff 2004 §11.3)
    alpha = F.when(d_e != 0.0, F.lit(1.0) - d_o / d_e)
    return (
        stats.crossJoin(F.broadcast(ncsq))
        .select(
            F.col("n_units").cast("long").alias("n_units"),
            F.col("n").cast("long").alias("n_ratings"),
            F.col("do_q6").cast("long").alias("do_q6_sum"),
            F.floor(alpha * 1000000 + F.lit(0.5))
            .cast("long")
            .alias("alpha_q6"),
            F.col("n_excluded").cast("long").alias("n_excluded"),
        )
    )
