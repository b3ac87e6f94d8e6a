"""Graph analytics over relational co-occurrence: weighted PageRank.

Complements the connected-components operator (dedup.cluster_pairs) with
the other classic iterative graph computation.  The edge list is derived
relationally (suppliers co-appearing in an order), and each PageRank
iteration is the textbook distributed shape — one join of the edge list
with the current rank vector on the source key, one aggregation by the
destination key:

    contributions = edges JOIN ranks ON src   (shuffle on src — ranks and
                                               edges co-partition after
                                               the first iteration)
    ranks'        = base + damping * SUM(contribution) GROUP BY dst

The rank vector is |V| rows; AQE broadcasts it when small, and at
billion-edge scale the join degrades gracefully to a co-partitioned
shuffle join — the same execution shape GraphX/Pregel lowers to.

Cross-engine determinism: ranks are carried as EXACT integers (1e9-scaled
BIGINTs).  A per-edge contribution is floor(damping * rank_q * weight /
outdeg): the numerator stays below 2^53 (exact in double), the divide is
a portable double op, and the floor re-enters integer land — so the
per-vertex SUM is order-independent BIGINT arithmetic and the DuckDB
oracle (the same loop unrolled as MATERIALIZED CTEs) matches bit for bit.

No dangling-mass redistribution: isolated vertices hold the base rank
(1-d), documented semantics on both sides.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from adtl_spark.session import cut, cut_and_release

PR_SCALE = 1_000_000_000

# Size gate for broadcasting vertex-sized relations inside iterative
# graph loops (r13 optimization round, guide §3.1 — pick the join
# strategy deliberately).  The per-iteration label/rank vector sits
# under an aggregation chain with no stage boundary below the join, so
# AQE never gets runtime stats to convert the planned sort-merge join —
# measured: every iteration re-shuffled and re-sorted the EDGE relation
# (1.2M rows at sf0.1; LPA loop 3.3 s plain vs 1.0 s broadcast).  An
# unconditional hint would OOM at web-scale vertex counts, so the
# broadcast is gated on a MEASURED row count the caller already has
# (vertices.count() / the checkpointed label materialization), with the
# threshold a runtime conf.  Default 4M rows of (BIGINT, BIGINT) ~=
# 64 MB serialized — inside Spark's 8 GB broadcast-table hard cap and a
# sensible executor-memory share; raise it on big-memory clusters, or
# to 0 to disable broadcasting entirely.  Above the gate the join
# degrades to the shuffle form exactly as before.
BCAST_VERTEX_ROWS_CONF = "spark.adtl.graph.broadcastVertexRows"
_BCAST_VERTEX_ROWS_DEFAULT = 4_000_000


def _gated_broadcast(df: DataFrame, n_rows: int) -> DataFrame:
    """``F.broadcast(df)`` iff ``n_rows`` is within the configured gate
    (see BCAST_VERTEX_ROWS_CONF above), else ``df`` unchanged."""
    thr = int(
        df.sparkSession.conf.get(
            BCAST_VERTEX_ROWS_CONF, str(_BCAST_VERTEX_ROWS_DEFAULT)
        )
    )
    return F.broadcast(df) if n_rows <= thr else df


def cooccurrence_edges(
    pairs: DataFrame, group_col: str, member_col: str
) -> DataFrame:
    """Undirected co-occurrence edges from a (group, member) relation:
    weight = number of groups where both members appear.  Emitted in both
    directions (src, dst, w) so PageRank consumes it directly.

    Scale shape: pair expansion happens IN-ROW over the per-group member
    set (collect_set + double explode), bounded by the per-group
    membership count squared — for order/supplier co-occurrence that is
    a handful, never a corpus-sized blowup.  collect_set subsumes the
    old DISTINCT, so the whole derivation is two shuffles (group, then
    (src, dst)) instead of three: the r13-era distinct + per-group
    self-join paid an extra exchange plus both sort-merge sorts on the
    group key (r14, guide §2.4 — remove shuffles outright; measured
    interleaved at sf0.1: 0.85 s vs 0.98 s, identical output).  A group
    whose membership is NOT a handful would make the in-row array a
    per-task hot spot — same quadratic blowup the join form had, just
    concentrated; cap memberships upstream if that invariant breaks."""
    grp = (
        pairs.select(F.col(group_col).alias("g"), F.col(member_col).alias("m"))
        .groupBy("g")
        .agg(F.collect_set("m").alias("ms"))
    )
    return (
        grp.select(F.explode("ms").alias("src"), F.col("ms"))
        .select("src", F.explode("ms").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).cast("long").alias("w"))
    )


def pagerank(
    edges: DataFrame,
    vertices: DataFrame,
    iters: int = 3,
    damping: float = 0.85,
) -> DataFrame:
    """Weighted PageRank over (src, dst, w) edges for the given vertex
    set — ``iters`` exact-integer iterations (see module docstring).

    Output: (v, pagerank) for every vertex, pagerank rounded to 4
    decimals, ordered by rank descending then vertex id.

    FUSED ITERATION (r14 optimization round, guide §2.1/§2.4): the old
    per-iteration ``vertices LEFT JOIN contributions`` merge (which kept
    every vertex present and re-scanned the vertex relation each round)
    is folded into the edge aggregation itself — the persisted edge
    relation carries one ZERO-WEIGHT SELF-LOOP row per vertex
    (w=0, outdeg=1, so its contribution is floor(0) = 0 exactly and the
    per-vertex integer sum is unchanged), which guarantees every vertex
    appears in the groupBy(dst) output.  Edges whose dst is not a vertex
    — which the old left join silently dropped every round — are
    removed ONCE up front by a semi-join.  One join + one aggregation
    per iteration instead of two joins; within the broadcast gate the
    relation is also hash-partitioned by dst so the aggregation needs
    no per-iteration exchange (single-stage rounds)."""
    base_q = int(round((1.0 - damping) * PR_SCALE))
    # persist the JOINED (edge, outdeg, self-loop) relation, not the bare
    # edge list: every iteration scans ew, and caching only edges would
    # re-run the outdegree aggregation + join once per iteration.  Skip
    # the persist/unpersist pair when the CALLER already cached the
    # input — persist is idempotent but unpersist is absolute, so the
    # old unconditional pair silently evicted caller-owned caches
    # (r13 ADVICE).
    edges_own = edges.storageLevel == StorageLevel.NONE
    if edges_own:
        edges = edges.persist()  # read twice while building ew
    # persist the vertex relation too: it feeds the count, the self-loop
    # rows, the semi-join build and the rank init — for TextRank the
    # uncached form re-ran tokenize+explode+distinct per consumer
    vertices_own = vertices.storageLevel == StorageLevel.NONE
    if vertices_own:
        vertices = vertices.persist()
    nv = vertices.count()  # gates the rank-vector broadcast (see top)
    thr = int(
        vertices.sparkSession.conf.get(
            BCAST_VERTEX_ROWS_CONF, str(_BCAST_VERTEX_ROWS_DEFAULT)
        )
    )
    # outdeg is vertex-bound — broadcast it under the same gate so the
    # ew build never shuffles the edge relation (measured r14: the
    # planned sort-merge join here cost ~1 s of the 5 s probe total)
    outdeg = edges.groupBy("src").agg(F.sum("w").alias("outdeg"))
    ew = (
        edges.join(_gated_broadcast(outdeg, nv), "src")
        .join(
            _gated_broadcast(vertices.select(F.col("v").alias("dst")), nv),
            "dst",
            "left_semi",
        )
        .unionByName(
            vertices.select(
                F.col("v").alias("dst"),
                F.col("v").alias("src"),
                F.lit(0).cast("long").alias("w"),
                F.lit(1).cast("long").alias("outdeg"),
            ).select("src", "dst", "w", "outdeg")
        )
    )
    if nv <= thr:
        # broadcast regime: clustering the cache by dst makes each
        # iteration a single stage (BHJ preserves it; the aggregation's
        # ClusteredDistribution(dst) is already satisfied).  Above the
        # gate the iteration join shuffles by src anyway — skip the
        # extra full-edge exchange.
        ew = ew.repartition(F.col("dst"))
    ew = ew.persist()
    ew.count()  # materialize ew, then the bare edge cache can go
    if edges_own:
        edges.unpersist()
    try:
        ranks = vertices.select(
            F.col("v"), F.lit(PR_SCALE).cast("long").alias("rq")
        )
        # each iteration ends in an eager localCheckpoint: it truncates the
        # lineage (otherwise the final DAG embeds ew once PER iteration and
        # recomputes it that many times at materialization), keeps the rank
        # vector distributed (never collected), and lets the ew cache be
        # released before returning.  The standard iterative-graph shape —
        # GraphX/Pregel checkpoint the same way.  Trade-off: checkpointed
        # blocks skip lineage recovery, acceptable for a 3-iteration model
        # build (rerun on executor loss).
        for _ in range(iters):
            ranks = (
                ew.join(_gated_broadcast(ranks, nv), ew["src"] == ranks["v"])
                .groupBy("dst")
                .agg(
                    (
                        F.lit(base_q)
                        + F.sum(
                            F.floor(
                                F.lit(damping)
                                * F.col("rq").cast("double")
                                * F.col("w")
                                / F.col("outdeg")
                            ).cast("long")
                        )
                    ).alias("rq")
                )
                .select(F.col("dst").alias("v"), "rq")
            )
            ranks = cut(ranks)
        return ranks.select(
            F.col("v"),
            (
                F.floor(F.col("rq") / F.lit(PR_SCALE / 10000.0) + F.lit(0.5))
                / 10000.0
            ).alias("pagerank"),
        ).orderBy(F.desc("pagerank"), F.asc("v"))
    finally:
        ew.unpersist()
        if vertices_own:
            vertices.unpersist()


def pagerank_cooccurrence_oracle_sql(
    pairs_sql: str,
    vertices_sql: str,
    iters: int = 3,
    damping: float = 0.85,
) -> str:
    """DuckDB twin of cooccurrence_edges + pagerank composed: the same
    loop unrolled as MATERIALIZED CTEs (r0 -> c1/r1 -> ...), identical
    integer protocol.  ``pairs_sql`` must yield (g, m); ``vertices_sql``
    must yield (v)."""
    base_q = int(round((1.0 - damping) * PR_SCALE))
    ctes = [
        f"""
    mem AS MATERIALIZED (SELECT DISTINCT g, m FROM ({pairs_sql})),
    verts AS MATERIALIZED (SELECT v FROM ({vertices_sql})),
    edges AS MATERIALIZED (
      SELECT a.m AS src, b.m AS dst, CAST(count(*) AS BIGINT) AS w
      FROM mem a JOIN mem b USING (g)
      WHERE a.m <> b.m
      GROUP BY 1, 2
    ),
    ew AS MATERIALIZED (
      SELECT e.src, e.dst, e.w, o.outdeg
      FROM edges e
      JOIN (SELECT src, sum(w) AS outdeg FROM edges GROUP BY src) o
        USING (src)
    ),
    r0 AS MATERIALIZED (SELECT v, CAST({PR_SCALE} AS BIGINT) AS rq FROM verts)"""
    ]
    for i in range(1, iters + 1):
        ctes.append(
            f"""
    c{i} AS MATERIALIZED (
      SELECT ew.dst,
             CAST(sum(CAST(floor(CAST({damping!r} AS DOUBLE) * CAST(r.rq AS DOUBLE) * ew.w / ew.outdeg) AS BIGINT)) AS BIGINT) AS csum
      FROM ew JOIN r{i - 1} r ON ew.src = r.v
      GROUP BY ew.dst
    ),
    r{i} AS MATERIALIZED (
      SELECT verts.v, {base_q} + COALESCE(c.csum, 0) AS rq
      FROM verts LEFT JOIN c{i} c ON verts.v = c.dst
    )"""
        )
    return (
        "WITH"
        + ",".join(ctes)
        + f"""
    SELECT v,
           floor(CAST(rq AS DOUBLE) / CAST({PR_SCALE / 10000.0!r} AS DOUBLE) + 0.5) / 10000.0 AS pagerank
    FROM r{iters}
    ORDER BY pagerank DESC, v ASC
    """
    )


def triangle_count(edges: DataFrame) -> DataFrame:
    """Global triangle count over an undirected edge list (both-direction
    (src, dst, w) rows, as cooccurrence_edges emits).

    DEGREE-ORIENTED wedge counting (the Suri/Vassilvitskii "last
    reducer" fix): every undirected edge points from its lower-(degree,
    id) endpoint to the higher one, wedges are built only at each
    vertex's OUT-neighbors, and a wedge (v, w) closes iff the oriented
    edge v->w exists.  Orientation bounds per-vertex out-degree by
    O(sqrt(|E|)), so wedge count is O(|E|^1.5) worst-case instead of
    sum(deg^2) — on the dense supplier co-occurrence graph (hubs share
    thousands of orders) naive id-orientation measured 23 s at sf0.1
    where this shape runs in ~2 s, because a high-degree hub with a low
    id fans out deg^2 wedges under id order but only sqrt-bounded ones
    under degree order.

    The count is orientation-invariant, so the DuckDB oracle keeps the
    simple id-oriented three-way join.  Degrees join as a broadcast
    (vertex-bound relation).  Returns one row (n_triangles)."""
    # persist the deduplicated edge list: it feeds the degree aggregation
    # and the oriented-edge build, and the oriented relation is referenced
    # three times (two wedge sides + the closing edge) — Spark plans trees,
    # so without the caches the caller's edge pipeline (for the triangles
    # gate: a lineitem-wide co-occurrence aggregation + global top-K sort)
    # re-executes once per reference (measured: 18 copies of the backbone
    # subtree / 36 lineitem scans in the uncached physical plan)
    und = (
        edges.select("src", "dst")
        .filter(F.col("src") < F.col("dst"))
        .distinct()
        .persist()
    )
    deg = (
        und.select(F.explode(F.array("src", "dst")).alias("v"))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    d1 = deg.select(F.col("v").alias("src"), F.col("deg").alias("ds"))
    d2 = deg.select(F.col("v").alias("dst"), F.col("deg").alias("dd"))
    keyed = und.join(F.broadcast(d1), "src").join(F.broadcast(d2), "dst")
    lo_first = (F.col("ds") < F.col("dd")) | (
        (F.col("ds") == F.col("dd")) & (F.col("src") < F.col("dst"))
    )
    o = keyed.select(
        F.when(lo_first, F.col("src")).otherwise(F.col("dst")).alias("u"),
        F.when(lo_first, F.col("dst")).otherwise(F.col("src")).alias("x"),
    ).persist()
    e1, e2, e3 = o.alias("e1"), o.alias("e2"), o.alias("e3")
    wedges = (
        e1.join(e2, F.col("e1.u") == F.col("e2.u"))
        .filter(F.col("e1.x") < F.col("e2.x"))
        .select(F.col("e1.x").alias("a"), F.col("e2.x").alias("b"))
    )
    # the closing edge between two out-neighbors may be oriented either
    # way (both orderings occur depending on their degrees)
    closing = e3.select(
        F.least(F.col("e3.u"), F.col("e3.x")).alias("a2"),
        F.greatest(F.col("e3.u"), F.col("e3.x")).alias("b2"),
    )
    # one row; the eager checkpoint cuts the result off the caches so
    # they can be released before returning (pagerank's pattern)
    out = (
        wedges.select(
            F.least(F.col("a"), F.col("b")).alias("a2"),
            F.greatest(F.col("a"), F.col("b")).alias("b2"),
        )
        .join(closing, ["a2", "b2"])
        .agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))
    )
    return cut_and_release(out, [o, und])


def triangle_count_cooccurrence_oracle_sql(
    pairs_sql: str, top_edges: int | None = None
) -> str:
    """DuckDB twin of cooccurrence_edges (+ optional strongest-K backbone
    cut) + triangle_count composed; ``pairs_sql`` must yield (g, m).
    The triangle count is orientation-invariant, so the oracle keeps the
    simple id-oriented three-way join regardless of the Spark side's
    degree orientation."""
    backbone = (
        f"ORDER BY w DESC, src ASC, dst ASC LIMIT {top_edges}"
        if top_edges is not None
        else ""
    )
    return f"""
    WITH mem AS MATERIALIZED (SELECT DISTINCT g, m FROM ({pairs_sql})),
    e AS MATERIALIZED (
      SELECT src, dst FROM (
        SELECT a.m AS src, b.m AS dst, CAST(count(*) AS BIGINT) AS w
        FROM mem a JOIN mem b USING (g)
        WHERE a.m < b.m
        GROUP BY 1, 2
      ) {backbone}
    )
    SELECT CAST(count(*) AS BIGINT) AS n_triangles
    FROM e e1
    JOIN e e2 ON e1.dst = e2.src
    JOIN e e3 ON e1.src = e3.src AND e2.dst = e3.dst
    """


def label_propagation(
    edges: DataFrame,
    vertices: DataFrame,
    iters: int = 4,
) -> DataFrame:
    """Community detection by synchronous weighted label propagation
    (Raghavan et al. 2007, made deterministic): every vertex starts as
    its own label, and each iteration reassigns

        label'(v) = argmax_L  [ sum of w(u, v) over neighbors u with
                                label(u) = L ]
                              + 1 if label(v) = L   (tie -> smaller label)

    for all vertices at once (synchronous update — the asynchronous
    variant is scan-order-dependent and therefore not reproducible
    across engines or partitionings).  The +1 incumbency vote is the
    standard anti-oscillation guard for the synchronous form: without
    it a 2-vertex community flips labels forever (the bipartite
    oscillation Raghavan et al. §3 note); with it the pair agrees on
    the smaller label in one step.  It also subsumes the isolated-
    vertex rule — a vertex with no neighbors keeps its own label
    because only its self-vote scores.  A fixed iteration count, not
    convergence, bounds the loop: deterministic output, and on
    co-occurrence graphs the label landscape stabilizes within a few
    rounds.

    The per-iteration shape is the same join+agg PageRank lowers to —
    edges join the |V|-row label vector on src (AQE broadcasts it when
    small), one (dst, label) weight aggregation, then the per-vertex
    argmax as a second HASH aggregation (``max_by`` over the ordered
    struct (s, -label) — highest weight, then smallest label) instead
    of a rank window, so no per-vertex sort ever runs — with an eager
    localCheckpoint per iteration to keep the lineage flat.  Everything
    is BIGINT arithmetic; the DuckDB oracle unrolls the loop (its
    row_number form encodes the identical (s DESC, label ASC) order)
    and matches exactly.

    Output: (v, community) for every vertex, ordered by (community, v).
    """
    # The +1 incumbency vote rides the edge relation as a self-loop
    # (v, v, 1) per vertex, folded in ONCE before the loop: after the
    # src-label join it produces exactly the (dst=v, lab(v), w=1) row the
    # old per-iteration union branch emitted, so every vote multiset —
    # and therefore every sum and argmax — is identical.  What it buys
    # (r13, guide §1.2/§2.2): the label vector now has exactly ONE
    # consumer per iteration (the join), so the lineage is a chain and
    # the per-iteration eager localCheckpoint — four driver-job
    # round-trips whose only purpose was stopping the two-consumer
    # subtree from doubling per level — is replaced by a single eager
    # checkpoint after the loop (still needed: downstream consumers like
    # modularity read the labels several times, and the edge cache
    # releases before return).
    # Cached PARTITIONED BY dst (guide §2.1 — remove shuffles outright):
    # when the label join broadcasts (the gated hint below; AQE cannot
    # convert it itself — the label side has no stage boundary under the
    # join to measure), the join preserves this clustering, so the
    # (dst, lab) vote sum AND the per-dst argmax both read a relation
    # already clustered by dst — HashPartitioning(dst) satisfies both
    # aggregations' distributions and no per-iteration exchange runs.
    # In the shuffle-join regime (huge |V|) the dst clustering still
    # feeds the argmax for free after the (dst, lab) aggregation; the
    # cached plan's partitioning is stable
    # (canChangeCachedPlanOutputPartitioning defaults false).
    edges = (
        edges.select("src", "dst", "w")
        .unionByName(
            vertices.select(
                F.col("v").alias("src"),
                F.col("v").alias("dst"),
                F.lit(1).cast("long").alias("w"),
            )
        )
        .repartition(F.col("dst"))
        .persist()
    )
    edges.count()
    nv = vertices.count()  # gates the label-vector broadcast
    try:
        labels = vertices.select("v", F.col("v").cast("long").alias("lab"))
        for _ in range(iters):
            votes = edges.join(
                _gated_broadcast(labels, nv), edges["src"] == labels["v"]
            ).select(F.col("dst"), F.col("lab"), F.col("w"))
            scores = votes.groupBy("dst", "lab").agg(F.sum("w").alias("s"))
            labels = (
                scores.groupBy("dst")
                .agg(
                    F.max_by(
                        "lab",
                        F.struct(F.col("s"), (-F.col("lab")).alias("nl")),
                    ).alias("lab")
                )
                .select(F.col("dst").alias("v"), F.col("lab"))
            )
        labels = cut(labels)
        return labels.select(
            "v", F.col("lab").alias("community")
        ).orderBy("community", "v")
    finally:
        edges.unpersist()


def _lpa_ctes(pairs_sql: str, vertices_sql: str, iters: int) -> str:
    """The shared WITH-body of the label-propagation oracles: cooccurrence
    edges + the synchronous loop unrolled as MATERIALIZED CTEs (l0 ->
    s1/l1 -> ...), identical argmax tie-break (weight DESC, label ASC).
    The final label vector is ``l{iters}``."""
    ctes = [
        f"""
    mem AS MATERIALIZED (SELECT DISTINCT g, m FROM ({pairs_sql})),
    verts AS MATERIALIZED (SELECT v FROM ({vertices_sql})),
    edges AS MATERIALIZED (
      SELECT a.m AS src, b.m AS dst, CAST(count(*) AS BIGINT) AS w
      FROM mem a JOIN mem b USING (g)
      WHERE a.m <> b.m
      GROUP BY 1, 2
    ),
    l0 AS MATERIALIZED (SELECT v, CAST(v AS BIGINT) AS lab FROM verts)"""
    ]
    for i in range(1, iters + 1):
        ctes.append(
            f"""
    s{i} AS MATERIALIZED (
      SELECT dst, lab, CAST(sum(w) AS BIGINT) AS s FROM (
        SELECT e.dst, l.lab, e.w
        FROM edges e JOIN l{i - 1} l ON l.v = e.src
        UNION ALL
        SELECT v AS dst, lab, CAST(1 AS BIGINT) AS w FROM l{i - 1}
      ) GROUP BY 1, 2
    ),
    l{i} AS MATERIALIZED (
      SELECT dst AS v, lab FROM (
        SELECT dst, lab,
               row_number() OVER (PARTITION BY dst ORDER BY s DESC, lab ASC) AS rn
        FROM s{i}
      ) WHERE rn = 1
    )"""
        )
    return "WITH" + ",".join(ctes)


def label_propagation_cooccurrence_oracle_sql(
    pairs_sql: str, vertices_sql: str, iters: int = 4
) -> str:
    """DuckDB twin of cooccurrence_edges + label_propagation composed
    (see :func:`_lpa_ctes`)."""
    return (
        _lpa_ctes(pairs_sql, vertices_sql, iters)
        + f"""
    SELECT v, lab AS community
    FROM l{iters}
    ORDER BY community, v
    """
    )


def modularity(edges: DataFrame, labels: DataFrame) -> DataFrame:
    """Newman modularity Q of a community assignment over a weighted
    both-direction edge list — the standard "is this partition better
    than chance" score for :func:`label_propagation` output:

        Q = sum over communities c of [ e_c / W  -  (d_c / W)^2 ]

    where W = total directed weight (2m), e_c = directed weight inside
    c, d_c = weighted degree mass of c.  Computed as the exact BIGINT
    numerator sum_c (e_c * W - d_c^2) divided once by W^2 — one edge
    scan joined twice against the |V|-row label vector, then ONE
    community-level aggregation carrying both masses.  ``labels`` must
    cover every edge endpoint (label_propagation output does — every
    vertex labels itself); an unlabeled endpoint's edges would drop
    out of both masses.  Edgeless input is defined as Q = 0.  Magnitudes: d_c <= W, so each term and the sum stay within
    2^63 while W < ~3e9 directed weight; beyond that, scale the weights
    down (documented bound, same family as PageRank's 1e9 quantum).

    Output: one row (n_communities, w_total, modularity) with
    modularity floor-quantized at 1e-6.

    The edge list is persisted for the computation's duration (four
    subtrees read it: degree mass, intra-community mass, total weight,
    and the label joins' probe side) and released before returning —
    the one-row result is eagerly checkpointed so laziness never
    re-reads the unpersisted cache."""
    edges = edges.persist()
    edges.count()
    # The label vector is |V|-row — NO forced broadcast hint: at web-scale
    # vertex counts a forced hint OOMs the driver where a plain equi-join
    # degrades gracefully to shuffle, and AQE still picks a broadcast when
    # the vector is actually small (plan-asserted at test scale) — the same
    # reasoning pagerank applies to its rank vector.  The one-row/
    # community-sized relations below keep their hints.
    lab = labels.select(F.col("v"), F.col("community").alias("c"))
    e_src = edges.join(
        lab.select(F.col("v").alias("src"), F.col("c").alias("cs")),
        "src",
    )
    both = e_src.join(
        lab.select(F.col("v").alias("dst"), F.col("c").alias("cd")),
        "dst",
    )
    # ONE community-level aggregation yields BOTH masses: the label
    # vector is total over the edge endpoints (label_propagation labels
    # every vertex — documented precondition), so grouping the
    # double-joined relation by cs sees exactly the rows the old
    # d_c-over-e_src pass saw, and the intra-community mass rides the
    # same shuffle as a conditional sum (null when a community has no
    # internal edge — same shape the old left join produced).  Before:
    # two aggregation pipelines, each re-executing the label join
    # (Spark plans trees); after: one.
    masses = both.groupBy("cs").agg(
        F.sum("w").alias("dc"),
        F.sum(F.when(F.col("cs") == F.col("cd"), F.col("w"))).alias("ec"),
    )
    w_tot = edges.agg(F.sum("w").alias("wt"))
    num = (
        masses.crossJoin(F.broadcast(w_tot))
        .agg(
            F.sum(
                F.coalesce(F.col("ec"), F.lit(0)) * F.col("wt")
                - F.col("dc") * F.col("dc")
            ).alias("num")
        )
    )
    n_comm = labels.agg(
        F.countDistinct("community").cast("long").alias("n_communities")
    )
    out = (
        n_comm.crossJoin(w_tot)
        .crossJoin(num)
        .select(
            "n_communities",
            F.coalesce(F.col("wt"), F.lit(0))
            .cast("long")
            .alias("w_total"),
            F.when(
                F.coalesce(F.col("wt"), F.lit(0)) > 0,
                F.floor(
                    F.col("num").cast("double")
                    / (F.col("wt").cast("double") * F.col("wt"))
                    * 1000000
                    + F.lit(0.5)
                )
                / 1000000.0,
            )
            .otherwise(F.lit(0.0))
            .alias("modularity"),
        )
    )
    return cut_and_release(out, [edges])


def modularity_lpa_oracle_sql(
    pairs_sql: str, vertices_sql: str, iters: int = 4
) -> str:
    """DuckDB twin of cooccurrence_edges + label_propagation +
    modularity composed: the LPA CTEs of :func:`_lpa_ctes` with the
    exact-BIGINT-numerator modularity tail."""
    return (
        _lpa_ctes(pairs_sql, vertices_sql, iters)
        + f""",
    lw AS (SELECT CAST(COALESCE(sum(w), 0) AS BIGINT) AS wt FROM edges),
    dc AS (
      SELECT l.lab AS c, CAST(sum(e.w) AS BIGINT) AS dc
      FROM edges e JOIN l{iters} l ON l.v = e.src
      GROUP BY 1
    ),
    ec AS (
      SELECT ls.lab AS c, CAST(sum(e.w) AS BIGINT) AS ec
      FROM edges e
      JOIN l{iters} ls ON ls.v = e.src
      JOIN l{iters} ld ON ld.v = e.dst
      WHERE ls.lab = ld.lab
      GROUP BY 1
    ),
    num AS (
      SELECT CAST(sum(COALESCE(ec.ec, 0) * lw.wt - dc.dc * dc.dc) AS BIGINT) AS num
      FROM dc LEFT JOIN ec USING (c) CROSS JOIN lw
    )
    SELECT (SELECT CAST(count(DISTINCT lab) AS BIGINT) FROM l{iters}) AS n_communities,
           lw.wt AS w_total,
           CASE WHEN lw.wt > 0
                THEN floor(CAST(num.num AS DOUBLE) / (CAST(lw.wt AS DOUBLE) * lw.wt)
                           * 1000000 + 0.5) / 1000000.0
                ELSE 0.0 END AS modularity
    FROM lw CROSS JOIN num
    """
    )


def adjacency_edges(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Token-adjacency co-occurrence edges for TextRank (Mihalcea &
    Tarau 2004, window = 2): every adjacent token pair in a document
    contributes weight 1 to the undirected edge between the two words,
    emitted in both directions (src, dst, w) for :func:`pagerank`.

    Bigram extraction is an in-row arrays_zip over the token array (the
    corpus.bigram pattern — narrow, no self-join on positions); the
    only shuffle is the (src, dst) weight aggregation, bounded by
    distinct adjacent-pair vocabulary, not corpus size."""
    from adtl_spark.operators.text import tokens

    t = docs.select(tokens(F.col(text_col)).alias("t"))
    bi = t.select(
        F.explode(
            F.arrays_zip(
                F.slice(
                    F.col("t"), 1, F.greatest(F.size("t") - 1, F.lit(0))
                ).alias("a"),
                F.slice(
                    F.col("t"), 2, F.greatest(F.size("t") - 1, F.lit(0))
                ).alias("b"),
            )
        ).alias("p")
    ).select(F.col("p.a").alias("a"), F.col("p.b").alias("b")).filter(
        F.col("a") != F.col("b")
    )
    sym = bi.unionByName(
        bi.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    return sym.groupBy(F.col("a").alias("src"), F.col("b").alias("dst")).agg(
        F.count(F.lit(1)).cast("long").alias("w")
    )


def pagerank_edges_oracle_sql(
    edges_sql: str,
    vertices_sql: str,
    iters: int = 3,
    damping: float = 0.85,
    tail_sql: str | None = None,
) -> str:
    """DuckDB twin of :func:`pagerank` over an arbitrary (src, dst, w)
    edge subquery — the generic form of
    :func:`pagerank_cooccurrence_oracle_sql` (which fixes the edge
    derivation to group co-membership).  ``tail_sql``, when given,
    replaces the final SELECT and may reference ``r{iters}`` plus the
    standard rank rendering; it must keep the same integer protocol."""
    base_q = int(round((1.0 - damping) * PR_SCALE))
    ctes = [
        f"""
    verts AS MATERIALIZED (SELECT v FROM ({vertices_sql})),
    edges AS MATERIALIZED (SELECT src, dst, w FROM ({edges_sql})),
    ew AS MATERIALIZED (
      SELECT e.src, e.dst, e.w, o.outdeg
      FROM edges e
      JOIN (SELECT src, sum(w) AS outdeg FROM edges GROUP BY src) o
        USING (src)
    ),
    r0 AS MATERIALIZED (SELECT v, CAST({PR_SCALE} AS BIGINT) AS rq FROM verts)"""
    ]
    for i in range(1, iters + 1):
        ctes.append(
            f"""
    c{i} AS MATERIALIZED (
      SELECT ew.dst,
             CAST(sum(CAST(floor(CAST({damping!r} AS DOUBLE) * CAST(r.rq AS DOUBLE) * ew.w / ew.outdeg) AS BIGINT)) AS BIGINT) AS csum
      FROM ew JOIN r{i - 1} r ON ew.src = r.v
      GROUP BY ew.dst
    ),
    r{i} AS MATERIALIZED (
      SELECT verts.v, {base_q} + COALESCE(c.csum, 0) AS rq
      FROM verts LEFT JOIN c{i} c ON verts.v = c.dst
    )"""
        )
    tail = tail_sql or f"""
    SELECT v,
           floor(CAST(rq AS DOUBLE) / CAST({PR_SCALE / 10000.0!r} AS DOUBLE) + 0.5) / 10000.0 AS pagerank
    FROM r{iters}
    ORDER BY pagerank DESC, v ASC
    """
    return "WITH" + ",".join(ctes) + tail
