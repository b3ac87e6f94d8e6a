"""Retrieval ranking, fusion, diversification and evaluation.

The reference engine has no retrieval surface at all (its "queries" are
spec files — /root/reference/src/adtl/parser.py); this module is part of
the training-data-pipeline extension family, complementing the BM25
retriever in operators/text.py with the other half of a production
retrieval stack:

- :func:`ql_topk`           — Dirichlet-smoothed query-likelihood ranking
                              (Zhai & Lafferty 2001), the second classic
                              lexical scorer;
- :func:`rrf_fuse_topk`     — reciprocal-rank fusion (Cormack et al. 2009)
                              of two rankers' top-N lists;
- :func:`ndcg_vs_truth`     — graded nDCG@k + MRR of an approximate ANN
                              ranking against the exact-cosine truth, the
                              ranked-quality complement to the recall@k
                              gates in operators/similarity.py;
- :func:`mmr_topk`          — maximal-marginal-relevance diversified
                              selection (Carbonell & Goldstein 1998) over
                              an exact-cosine candidate pool.

Cross-engine exactness follows the repo-wide integer protocol: every
float-looking factor is quantized ONCE to a BIGINT (floor(x * scale +
0.5)) at a documented quantum, so sums, rankings, and greedy argmax
decisions are order-independent integer arithmetic the DuckDB oracles
replay bit-for-bit.  The only doubles that cross an engine boundary are
(a) ln()/cosine values computed from identical integer inputs with the
same expression tree (the repo-wide 1-ulp libm caveat, accepted since
the tf-idf gate) and (b) final display divisions by the scale.

Scale shape: query relations are tiny and BROADCAST; the corpus
contributes the same (doc, token) tf aggregation BM25 already needs
(shareable at scale), and every post-candidate relation is bounded by
matches or by queries x pool, never by the corpus.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from adtl_spark.operators.similarity import cosine, cosine_topk
from adtl_spark.operators.text import tokens
from adtl_spark.session import cut, cut_and_release

QL_SCALE = 1_000_000          # quantum of the per-term ln() factors
RRF_SCALE = 1_000_000_000_000  # 1/(k0+rank) quantized as SCALE DIV (k0+rank)
NDCG_SCALE = 1_000_000        # quantum of the 1/log2(pos+1) weights
MMR_SCALE = 1_000_000         # quantum of rel/sim; scores are 10x (7*rel-3*sim)


# --------------------------------------------------------------- query like.
def ql_topk(
    df: DataFrame,
    queries: DataFrame,
    k: int = 5,
    mu: int = 2000,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Dirichlet-smoothed query-likelihood retrieval: top-``k`` documents
    per query under p(q|d) with Bayesian smoothing parameter ``mu``
    (Zhai & Lafferty 2001, the INQUERY/Lemur default family).

    Rank-equivalent sparse form (the one an inverted index evaluates):

        score(q, d) = sum_{t in q, tf>0} c(t,q) * ln(1 + tf*T / (mu*ctf))
                      + |q| * ln(mu / (dl + mu))

    where T is the corpus token total, ctf the corpus frequency of t, dl
    the document length, and |q| counts query tokens present in the
    corpus vocabulary (terms with ctf=0 have zero probability mass under
    pure Dirichlet smoothing and are dropped, the standard convention).
    The rank-constant sum_t c(t,q)*ln(ctf/T) is omitted — documented
    rank-equivalence, and it keeps every factor's magnitude small.

    Candidate set = documents matching at least one query term (standard
    inverted-index practice; an unmatched document's score is not
    comparable without the dropped constant).  Both ln() factors are
    quantized at 1e-6 (floor(x*1e6+0.5) BIGINTs), so scores and ranking
    are exact integer arithmetic.

    Scale shape: identical to text.bm25_topk — the corpus shuffles once
    on (id, token) for tf; query terms broadcast; the scored relation is
    bounded by postings matches, and dl joins map-side (AQE broadcasts
    the match-bounded side)."""
    toks = df.select(
        F.col(id_col).alias("id"),
        F.explode(tokens(F.col(text_col))).alias("token"),
    )
    # persisted: ctf, the corpus total AND the scoring join all read the
    # tf relation; without the cache each branch re-runs the tokenize +
    # explode + (id, token) shuffle (Spark plans trees).  ctf and the
    # total are DERIVED from tf (sum of tf == count over toks, exactly,
    # as BIGINTs) so the corpus tokenizes ONCE for the postings side.
    tf = (
        toks.groupBy("id", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
        .persist()
    )
    dl = df.select(
        F.col(id_col).alias("id"),
        F.size(tokens(F.col(text_col))).cast("long").alias("dl"),
    )
    ctf = tf.groupBy("token").agg(F.sum("tf").alias("ctf"))
    total = tf.agg(F.sum("tf").alias("t_tokens"))
    qterms = (
        queries.select(
            "query_id", F.explode(tokens(F.col("query"))).alias("token")
        )
        .groupBy("query_id", "token")
        .agg(F.count(F.lit(1)).alias("qtf"))
    )
    # in-vocabulary query terms with their corpus frequency: broadcast the
    # tiny query side into the token-frequency relation
    qv = ctf.join(F.broadcast(qterms), "token")
    qlen = qv.groupBy("query_id").agg(F.sum("qtf").alias("qlen"))
    a_q = F.floor(
        F.log(
            F.lit(1.0)
            + (F.col("tf") * F.col("t_tokens"))
            / (F.lit(mu) * F.col("ctf"))
        )
        * QL_SCALE
        + F.lit(0.5)
    ).cast("long")
    asum = (
        tf.join(F.broadcast(qv), "token")
        .crossJoin(F.broadcast(total))
        .select("query_id", "id", (F.col("qtf") * a_q).alias("__a"))
        .groupBy("query_id", "id")
        .agg(F.sum("__a").alias("__asum"))
    )
    b_q = F.floor(
        F.log(F.lit(mu) / (F.col("dl") + F.lit(mu))) * QL_SCALE + F.lit(0.5)
    ).cast("long")
    scored = (
        asum.join(dl, "id")
        .join(F.broadcast(qlen), "query_id")
        .select(
            "query_id",
            "id",
            (F.col("__asum") + F.col("qlen") * b_q).alias("__score"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("__score"), F.asc("id"))
    result = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            F.col("id").alias(id_col),
            F.col("rank").cast("long").alias("rank"),
            (F.col("__score").cast("double") / QL_SCALE).alias("ql"),
        )
    )
    # queries x k rows — materialize, then release the postings cache
    return cut_and_release(result, [tf])


def ql_topk_oracle_sql(
    table: str, queries: list[tuple[int, str]], k: int = 5, mu: int = 2000
) -> str:
    """DuckDB twin of :func:`ql_topk` — same tokenizer, same quantized-ln
    protocol (identical double quotients into ln, floor at 1e-6)."""
    qvals = ", ".join(f"({qid}, '{q}')" for qid, q in queries)
    return f"""
    WITH toks AS (
      SELECT doc_id AS id, unnest(
        list_filter(string_split_regex(lower(text), '\\s+'), t -> t != '')
      ) AS token
      FROM {table}
    ),
    tf AS (SELECT id, token, count(*) AS tf FROM toks GROUP BY 1, 2),
    dl AS (SELECT id, count(*) AS dl FROM toks GROUP BY 1),
    ctf AS (SELECT token, count(*) AS ctf FROM toks GROUP BY 1),
    tot AS (SELECT count(*) AS t_tokens FROM toks),
    q(query_id, query) AS (VALUES {qvals}),
    qt AS (
      SELECT query_id, token, count(*) AS qtf FROM (
        SELECT query_id, unnest(
          list_filter(string_split_regex(lower(query), '\\s+'), t -> t != '')
        ) AS token
        FROM q
      ) GROUP BY 1, 2
    ),
    qv AS (SELECT qt.query_id, qt.token, qt.qtf, ctf.ctf
           FROM qt JOIN ctf USING (token)),
    qlen AS (SELECT query_id, sum(qtf) AS qlen FROM qv GROUP BY 1),
    asum AS (
      SELECT qv.query_id, tf.id,
             CAST(sum(qv.qtf * CAST(floor(
               ln(1.0 + (tf.tf * t.t_tokens) / ({mu} * qv.ctf)) * {QL_SCALE} + 0.5
             ) AS BIGINT)) AS BIGINT) AS asum
      FROM tf JOIN qv USING (token) CROSS JOIN tot t
      GROUP BY 1, 2
    ),
    scored AS (
      SELECT a.query_id, a.id,
             a.asum + ql.qlen * CAST(floor(
               ln({mu} / (dl.dl + {mu})) * {QL_SCALE} + 0.5
             ) AS BIGINT) AS score
      FROM asum a JOIN dl USING (id) JOIN qlen ql USING (query_id)
    ),
    ranked AS (
      SELECT query_id, id, score,
             row_number() OVER (PARTITION BY query_id ORDER BY score DESC, id ASC) AS rank
      FROM scored
    )
    SELECT query_id, id AS doc_id, CAST(rank AS BIGINT) AS rank,
           CAST(score AS DOUBLE) / {QL_SCALE} AS ql
    FROM ranked WHERE rank <= {k}
    """


# --------------------------------------------------------------- RRF fusion
def rrf_fuse_topk(
    ranked_a: DataFrame,
    ranked_b: DataFrame,
    k: int = 10,
    k0: int = 60,
    id_col: str = "doc_id",
    exclude_self: bool = False,
) -> DataFrame:
    """Reciprocal-rank fusion of two per-query rankings (Cormack,
    Clarke & Buettcher 2009): score(d) = sum over systems of
    1/(k0 + rank_system(d)), with the TREC-standard k0=60.  Inputs are
    (query_id, id_col, rank, ...) relations as :func:`ql_topk` /
    text.bm25_topk emit; a document present in only one list gets only
    that list's contribution (standard RRF — no penalty term).

    Exactness: each contribution is quantized as RRF_SCALE DIV
    (k0 + rank) — pure integer division, so fused scores and the final
    ranking are exact BIGINTs.  Ties break on the lower document id.

    Scale shape: inputs are top-N-per-query relations (queries x N
    rows); because RRF is additive over systems the fusion is a UNION +
    one aggregation on that tiny relation (no join — a full outer join
    here would sort-merge both lists for nothing); the expensive part
    is the upstream rankers, which share their postings aggregations."""
    # union + sum instead of a full-outer join: RRF is additive over
    # systems, so the fusion is one aggregation — no join at all (a
    # full outer join is never broadcastable in Spark and would shuffle
    # both lists as a sort-merge join for nothing)
    contrib = F.expr(f"{RRF_SCALE} DIV ({k0} + rank)")
    a = ranked_a.select(
        "query_id", F.col(id_col).alias("id"), contrib.alias("__c")
    )
    b = ranked_b.select(
        "query_id", F.col(id_col).alias("id"), contrib.alias("__c")
    )
    fused = (
        a.unionByName(b)
        .groupBy("query_id", "id")
        .agg(F.sum("__c").alias("__score"))
    )
    if exclude_self:
        # known-item / related-document retrieval: when query ids live in
        # the same id space as documents, drop the query's own document
        # AFTER fusion (it still holds its per-system ranks — uniform,
        # documented semantics mirrored by the oracle)
        fused = fused.filter(F.col("id") != F.col("query_id"))
    w = Window.partitionBy("query_id").orderBy(F.desc("__score"), F.asc("id"))
    return (
        fused.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            F.col("id").alias(id_col),
            F.col("rank").cast("long").alias("rank"),
            (F.col("__score").cast("double") / RRF_SCALE).alias("rrf"),
        )
    )


def rrf_fuse_oracle_sql(
    ranked_a_sql: str,
    ranked_b_sql: str,
    k: int = 10,
    k0: int = 60,
    exclude_self: bool = False,
) -> str:
    """DuckDB twin of :func:`rrf_fuse_topk` over two ranking subqueries
    (each a full SELECT — nested WITH is fine in DuckDB derived tables)
    that yield (query_id, doc_id, rank, ...)."""
    self_filter = "WHERE id != query_id" if exclude_self else ""
    return f"""
    WITH contrib AS (
      SELECT query_id, doc_id AS id, {RRF_SCALE} // ({k0} + rank) AS c
      FROM ({ranked_a_sql}) __a
      UNION ALL
      SELECT query_id, doc_id AS id, {RRF_SCALE} // ({k0} + rank) AS c
      FROM ({ranked_b_sql}) __b
    ),
    fused AS (
      SELECT query_id, id, CAST(sum(c) AS BIGINT) AS score
      FROM contrib GROUP BY 1, 2
    ),
    kept AS (SELECT * FROM fused {self_filter}),
    ranked AS (
      SELECT query_id, id, score,
             row_number() OVER (PARTITION BY query_id ORDER BY score DESC, id ASC) AS rank
      FROM kept
    )
    SELECT query_id, id AS doc_id, CAST(rank AS BIGINT) AS rank,
           CAST(score AS DOUBLE) / {RRF_SCALE} AS rrf
    FROM ranked WHERE rank <= {k}
    """


# ------------------------------------------------------------------ nDCG/MRR
def _ndcg_weights(k: int) -> list[int]:
    """Position weights floor-quantized from 1/log2(pos+1): engine-
    independent Python constants injected as literals on BOTH sides, so
    no cross-engine log2 is ever evaluated."""
    return [int(round(NDCG_SCALE / math.log2(i + 1))) for i in range(1, k + 1)]


def ndcg_vs_truth(
    truth: DataFrame,
    approx: DataFrame,
    k: int,
    id_col: str = "corpus_id",
) -> DataFrame:
    """Graded nDCG@k and MRR of an approximate ranking against an exact
    truth ranking — the ranked-quality complement to recall@k (which
    only counts set overlap and is blind to WHERE the survivors land).

    Inputs are per-query top-k relations with (query_id, id_col, rank).
    Relevance is graded from the truth rank: rel(truth rank r) = k+1-r,
    rel(not in truth top-k) = 0.  DCG(approx) = sum over approx
    positions i of rel * w_i with w_i = round(1e6 / log2(i+1)) — Python
    constants, see :func:`_ndcg_weights` — and IDCG is the constant
    sum_i (k+1-i)*w_i, so ndcg = (dcg*10000) DIV idcg / 1e4 is exact
    integer arithmetic end to end.  MRR is the reciprocal approx rank
    of the truth TOP-1 document (1e6 DIV rank, 0 when missed).

    Output: one row per query — (query_id, overlap, ndcg, mrr)."""
    weights = _ndcg_weights(k)
    idcg = sum((k + 1 - i) * w for i, w in enumerate(weights, start=1))
    w_arr = F.array(*[F.lit(w).cast("long") for w in weights])
    # rename both sides up front: truth and approx often share lineage
    # (same corpus, same query relation), and positional column
    # references across a self-join are ambiguous otherwise
    ap = approx.select(
        F.col("query_id"),
        F.col(id_col).alias("__aid"),
        F.col("rank").alias("__arank"),
    )
    rel = truth.select(
        F.col("query_id").alias("__tq"),
        F.col(id_col).alias("__tid"),
        (F.lit(k + 1) - F.col("rank")).cast("long").alias("rel"),
    )
    t1 = truth.filter(F.col("rank") == 1).select(
        F.col("query_id").alias("__t1q"), F.col(id_col).alias("__t1id")
    )
    j = ap.join(
        F.broadcast(rel),
        (F.col("query_id") == F.col("__tq"))
        & (F.col("__aid") == F.col("__tid")),
        "left",
    )
    g = j.groupBy("query_id").agg(
        F.sum(
            F.coalesce(F.col("rel"), F.lit(0))
            * F.element_at(w_arr, F.col("__arank").cast("int"))
        ).alias("__dcg"),
        F.sum(F.when(F.col("rel").isNotNull(), 1).otherwise(0))
        .cast("long")
        .alias("overlap"),
    )
    mrr = (
        ap.join(
            F.broadcast(t1),
            (F.col("query_id") == F.col("__t1q"))
            & (F.col("__aid") == F.col("__t1id")),
        )
        .select(
            "query_id",
            F.expr(f"{NDCG_SCALE} DIV __arank").alias("__mrr_q"),
        )
    )
    return (
        g.join(F.broadcast(mrr), "query_id", "left")
        .select(
            "query_id",
            "overlap",
            (
                F.expr(f"(__dcg * 10000) DIV {idcg}").cast("double") / 10000.0
            ).alias("ndcg"),
            (
                F.coalesce(F.col("__mrr_q"), F.lit(0)).cast("double")
                / NDCG_SCALE
            ).alias("mrr"),
        )
        .orderBy("query_id")
    )


def ndcg_truncated_oracle_sql(
    table: str, d_keep: int, k: int, n_queries: int
) -> str:
    """DuckDB twin of the truncated-dims nDCG gate: full-dim cosine top-k
    truth vs first-``d_keep``-dims approx, graded nDCG@k + MRR per query
    (same Python-constant weights, same integer protocol)."""
    weights = _ndcg_weights(k)
    idcg = sum((k + 1 - i) * w for i, w in enumerate(weights, start=1))
    wvals = ", ".join(f"({i}, {w})" for i, w in enumerate(weights, start=1))
    return f"""
    WITH q AS (
      SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
      FROM {table} ORDER BY vec_id LIMIT {n_queries}
    ),
    c AS (SELECT vec_id AS corpus_id, CAST(embedding AS DOUBLE[]) AS cv FROM {table}),
    t AS (
      SELECT query_id, corpus_id, rn FROM (
        SELECT query_id, corpus_id,
               row_number() OVER (
                 PARTITION BY query_id
                 ORDER BY list_dot_product(qv, cv)
                   / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) DESC,
                   corpus_id ASC
               ) AS rn
        FROM q CROSS JOIN c WHERE query_id != corpus_id
      ) WHERE rn <= {k}
    ),
    a AS (
      SELECT query_id, corpus_id, rn FROM (
        SELECT query_id, corpus_id,
               row_number() OVER (
                 PARTITION BY query_id
                 ORDER BY list_dot_product(qv[1:{d_keep}], cv[1:{d_keep}])
                   / (sqrt(list_dot_product(qv[1:{d_keep}], qv[1:{d_keep}]))
                      * sqrt(list_dot_product(cv[1:{d_keep}], cv[1:{d_keep}]))) DESC,
                   corpus_id ASC
               ) AS rn
        FROM q CROSS JOIN c WHERE query_id != corpus_id
      ) WHERE rn <= {k}
    ),
    w(pos, wq) AS (VALUES {wvals}),
    g AS (
      SELECT a.query_id,
             CAST(sum(COALESCE({k} + 1 - t.rn, 0) * w.wq) AS BIGINT) AS dcg,
             CAST(sum(CASE WHEN t.rn IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS overlap
      FROM a
      JOIN w ON w.pos = a.rn
      LEFT JOIN t ON t.query_id = a.query_id AND t.corpus_id = a.corpus_id
      GROUP BY 1
    ),
    t1 AS (SELECT query_id, corpus_id FROM t WHERE rn = 1),
    m AS (
      SELECT a.query_id, {NDCG_SCALE} // a.rn AS mrr_q
      FROM a JOIN t1 ON t1.query_id = a.query_id AND t1.corpus_id = a.corpus_id
    )
    SELECT g.query_id, g.overlap,
           CAST(g.dcg * 10000 // {idcg} AS DOUBLE) / 10000.0 AS ndcg,
           CAST(COALESCE(m.mrr_q, 0) AS DOUBLE) / {NDCG_SCALE} AS mrr
    FROM g LEFT JOIN m ON m.query_id = g.query_id
    ORDER BY g.query_id
    """


# ---------------------------------------------------------------------- MMR
def mmr_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    pool: int = 12,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Maximal-marginal-relevance diversified top-k (Carbonell &
    Goldstein 1998) with the classic lambda = 0.7: greedily select

        argmax_c  0.7 * rel(c)  -  0.3 * max_{s in selected} sim(c, s)

    from an exact-cosine candidate pool of ``pool`` per query.  Lambda
    enters as the exact rational 7/10, so a decision score is the
    BIGINT 7*rel_q - 3*maxsim_q at 1e-6 quantum (rel_q re-derived from
    the pool's 4-decimal cosine: floor(cos*1e4+0.5)*100; pairwise sims
    quantized at floor(cos*1e6+0.5)); ties break on the lower id.  The
    first pick has no diversity term (maxsim = 0): it is argmax rel.

    Scale shape: the pool comes from :func:`cosine_topk` (partition-
    local top-k, corpus never shuffled); everything after is queries x
    pool sized — the pairwise-sim relation is pool^2 per query, and the
    k-step greedy loop runs as tiny broadcast joins with an eager
    localCheckpoint per step to keep the lineage flat (the same
    iterative shape as operators/graph.pagerank).

    Output: (query_id, vec_id, pick, mmr) — pick is selection order
    1..k, mmr the decision score at the moment of selection, displayed
    at the 1e-7 quantum (the 10x lambda scaling over 1e-6)."""
    cand = cosine_topk(corpus, queries, k=pool, id_col=id_col, vec_col=vec_col)
    cand = cut(
        cand.select(
            "query_id",
            F.col("corpus_id").alias("cid"),
            (F.floor(F.col("cos") * 10000 + F.lit(0.5)).cast("long") * 100)
            .alias("relq"),
        )
    )
    # ^ the pool is the ONLY corpus-sized subtree; checkpointing it here
    # (before candv/pairs/sel derive from it) is what makes the k-1 greedy
    # iterations queries x pool sized — without it every per-step eager
    # checkpoint re-runs the full-corpus cosine top-k through sel1/rem.
    cv = corpus.select(F.col(id_col).alias("cid"), F.col(vec_col).alias("v"))
    candv = cv.join(F.broadcast(cand), "cid").select("query_id", "cid", "v")
    a, b = candv.alias("a"), candv.alias("b")
    # pool^2 x queries rows; reused k-1 times
    pairs = cut(
        a.join(
            b,
            (F.col("a.query_id") == F.col("b.query_id"))
            & (F.col("a.cid") != F.col("b.cid")),
        ).select(
            F.col("a.query_id").alias("query_id"),
            F.col("a.cid").alias("ca"),
            F.col("b.cid").alias("cb"),
            F.floor(cosine(F.col("a.v"), F.col("b.v")) * MMR_SCALE + F.lit(0.5))
            .cast("long")
            .alias("simq"),
        )
    )
    w1 = Window.partitionBy("query_id").orderBy(F.desc("relq"), F.asc("cid"))
    sel = cut(
        cand.withColumn("__rn", F.row_number().over(w1))
        .filter(F.col("__rn") == 1)
        .select(
            "query_id",
            "cid",
            F.lit(1).cast("long").alias("pick"),
            (7 * F.col("relq")).alias("mmrq"),
        )
    )
    for t in range(2, k + 1):
        rem = cand.join(sel.select("query_id", "cid"), ["query_id", "cid"], "left_anti")
        ms = (
            pairs.join(
                sel.select("query_id", F.col("cid").alias("cb")),
                ["query_id", "cb"],
            )
            .groupBy("query_id", F.col("ca").alias("cid"))
            .agg(F.max("simq").alias("maxsim"))
        )
        scored = rem.join(ms, ["query_id", "cid"]).select(
            "query_id",
            "cid",
            (7 * F.col("relq") - 3 * F.col("maxsim")).alias("mmrq"),
        )
        wt = Window.partitionBy("query_id").orderBy(
            F.desc("mmrq"), F.asc("cid")
        )
        pick = (
            scored.withColumn("__rn", F.row_number().over(wt))
            .filter(F.col("__rn") == 1)
            .select(
                "query_id",
                "cid",
                F.lit(t).cast("long").alias("pick"),
                "mmrq",
            )
        )
        sel = cut(sel.unionByName(pick))
    return sel.select(
        "query_id",
        F.col("cid").alias("vec_id"),
        "pick",
        (F.col("mmrq").cast("double") / (MMR_SCALE * 10)).alias("mmr"),
    ).orderBy("query_id", "pick")


def mmr_topk_oracle_sql(
    table: str, k: int, pool: int, n_queries: int
) -> str:
    """DuckDB twin of :func:`mmr_topk`: the greedy loop unrolled as
    MATERIALIZED CTEs (sel1 -> m2/sel2 -> ...), identical integer
    protocol (rel from the 4-decimal pool cosine, pairwise sims at
    1e-6, scores 7*rel - 3*maxsim)."""
    ctes = [
        f"""
    q AS MATERIALIZED (
      SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
      FROM {table} ORDER BY vec_id LIMIT {n_queries}
    ),
    c AS MATERIALIZED (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cv FROM {table}),
    cand AS MATERIALIZED (
      SELECT query_id, cid,
             CAST(floor(round(cos, 4) * 10000 + 0.5) AS BIGINT) * 100 AS relq
      FROM (
        SELECT query_id, cid,
               list_dot_product(qv, cv)
                 / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) AS cos,
               row_number() OVER (
                 PARTITION BY query_id
                 ORDER BY list_dot_product(qv, cv)
                   / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) DESC,
                   cid ASC
               ) AS rn
        FROM q CROSS JOIN c WHERE query_id != cid
      ) WHERE rn <= {pool}
    ),
    pairs AS MATERIALIZED (
      SELECT a.query_id, a.cid AS ca, b.cid AS cb,
             CAST(floor(
               list_dot_product(ac.cv, bc.cv)
                 / (sqrt(list_dot_product(ac.cv, ac.cv)) * sqrt(list_dot_product(bc.cv, bc.cv)))
               * {MMR_SCALE} + 0.5
             ) AS BIGINT) AS simq
      FROM cand a
      JOIN cand b ON a.query_id = b.query_id AND a.cid != b.cid
      JOIN c ac ON ac.cid = a.cid
      JOIN c bc ON bc.cid = b.cid
    ),
    sel1 AS MATERIALIZED (
      SELECT query_id, cid, CAST(1 AS BIGINT) AS pick, 7 * relq AS mmrq
      FROM (
        SELECT query_id, cid, relq,
               row_number() OVER (PARTITION BY query_id ORDER BY relq DESC, cid ASC) AS rn
        FROM cand
      ) WHERE rn = 1
    )"""
    ]
    for t in range(2, k + 1):
        ctes.append(
            f"""
    m{t} AS MATERIALIZED (
      SELECT r.query_id, r.cid, r.relq, max(p.simq) AS maxsim
      FROM cand r
      JOIN pairs p ON p.query_id = r.query_id AND p.ca = r.cid
      JOIN sel{t - 1} s ON s.query_id = p.query_id AND s.cid = p.cb
      WHERE NOT EXISTS (
        SELECT 1 FROM sel{t - 1} s2
        WHERE s2.query_id = r.query_id AND s2.cid = r.cid
      )
      GROUP BY 1, 2, 3
    ),
    sel{t} AS MATERIALIZED (
      SELECT query_id, cid, pick, mmrq FROM sel{t - 1}
      UNION ALL
      SELECT query_id, cid, CAST({t} AS BIGINT) AS pick, mmrq FROM (
        SELECT query_id, cid, 7 * relq - 3 * maxsim AS mmrq,
               row_number() OVER (
                 PARTITION BY query_id
                 ORDER BY 7 * relq - 3 * maxsim DESC, cid ASC
               ) AS rn
        FROM m{t}
      ) WHERE rn = 1
    )"""
        )
    return (
        "WITH"
        + ",".join(ctes)
        + f"""
    SELECT query_id, cid AS vec_id, pick,
           CAST(mmrq AS DOUBLE) / {MMR_SCALE * 10} AS mmr
    FROM sel{k}
    ORDER BY query_id, pick
    """
    )


# ------------------------------------------------------ RM3-style expansion
RM3_SCALE = 1_000_000  # quantum of the per-(term, doc) tf/dl mass


def rm3_expansion_terms(
    df: DataFrame,
    queries: DataFrame,
    m: int = 5,
    e: int = 8,
    mu: int = 2000,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Pseudo-relevance-feedback expansion terms (the RM1 estimate
    inside RM3, Lavrenko & Croft 2001): run the Dirichlet QL retriever,
    take the top-``m`` feedback documents per query, and rank candidate
    expansion terms by their relevance-model mass

        w(t | q) = sum over feedback docs d of  tf(t, d) / dl_d

    with uniform feedback-document weights and each per-document ratio
    quantized once as (tf * 1e6) DIV dl — exact BIGINT sums.  Terms
    already in the query are excluded (these are the EXPANSION terms;
    RM3's interpolation with the original query is a downstream mix).
    Ties break lexicographically.

    Scale shape: feedback is queries x m rows (broadcast); the term
    aggregation touches only the feedback documents' postings, and the
    final top-``e`` window runs per query over candidate terms bounded
    by feedback-set vocabulary.

    Output: (query_id, term, rank, weight) at the 1e-6 quantum."""
    fb = ql_topk(df, queries, k=m, mu=mu, text_col=text_col, id_col=id_col)
    fb = fb.select("query_id", F.col(id_col).alias("id"))
    toks = df.select(
        F.col(id_col).alias("id"),
        F.explode(tokens(F.col(text_col))).alias("token"),
    )
    tf = toks.groupBy("id", "token").agg(F.count(F.lit(1)).alias("tf"))
    dl = df.select(
        F.col(id_col).alias("id"),
        F.size(tokens(F.col(text_col))).cast("long").alias("dl"),
    )
    qterms = queries.select(
        "query_id", F.explode(tokens(F.col("query"))).alias("token")
    ).distinct()
    mass = (
        tf.join(F.broadcast(fb), "id")
        .join(dl, "id")
        .select(
            "query_id",
            "token",
            F.expr(f"(tf * {RM3_SCALE}) DIV dl").alias("__m"),
        )
        .groupBy("query_id", "token")
        .agg(F.sum("__m").alias("__mass"))
        .join(F.broadcast(qterms), ["query_id", "token"], "left_anti")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("__mass"), F.asc("token")
    )
    return (
        mass.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= e)
        .select(
            "query_id",
            F.col("token").alias("term"),
            F.col("rank").cast("long").alias("rank"),
            (F.col("__mass").cast("double") / RM3_SCALE).alias("weight"),
        )
    )


def rm3_expansion_oracle_sql(
    table: str,
    queries: list[tuple[int, str]],
    m: int = 5,
    e: int = 8,
    mu: int = 2000,
) -> str:
    """DuckDB twin of :func:`rm3_expansion_terms`: the QL oracle as the
    feedback subquery, then the same (tf * 1e6) DIV dl mass protocol."""
    qvals = ", ".join(f"({qid}, '{q}')" for qid, q in queries)
    fb_sql = ql_topk_oracle_sql(table, queries, k=m, mu=mu)
    return f"""
    WITH fb AS (SELECT query_id, doc_id AS id FROM ({fb_sql}) __fb),
    toks AS (
      SELECT doc_id AS id, unnest(
        list_filter(string_split_regex(lower(text), '\\s+'), t -> t != '')
      ) AS token
      FROM {table}
    ),
    tf AS (SELECT id, token, count(*) AS tf FROM toks GROUP BY 1, 2),
    dl AS (SELECT id, count(*) AS dl FROM toks GROUP BY 1),
    q(query_id, query) AS (VALUES {qvals}),
    qterms AS (
      SELECT DISTINCT query_id, unnest(
        list_filter(string_split_regex(lower(query), '\\s+'), t -> t != '')
      ) AS token
      FROM q
    ),
    mass AS (
      SELECT fb.query_id, tf.token,
             CAST(sum((tf.tf * {RM3_SCALE}) // dl.dl) AS BIGINT) AS mass
      FROM tf JOIN fb USING (id) JOIN dl USING (id)
      GROUP BY 1, 2
    ),
    kept AS (
      SELECT m.* FROM mass m
      WHERE NOT EXISTS (
        SELECT 1 FROM qterms qt
        WHERE qt.query_id = m.query_id AND qt.token = m.token
      )
    ),
    ranked AS (
      SELECT query_id, token, mass,
             row_number() OVER (PARTITION BY query_id ORDER BY mass DESC, token ASC) AS rank
      FROM kept
    )
    SELECT query_id, token AS term, CAST(rank AS BIGINT) AS rank,
           CAST(mass AS DOUBLE) / {RM3_SCALE} AS weight
    FROM ranked WHERE rank <= {e}
    """


# ------------------------------------------------- persisted search index
#
# "Build once, query many" retrieval serving: the corpus-side
# aggregations every lexical scorer needs (postings tf, lexicon df/ctf,
# document lengths, corpus totals) are computed ONCE and persisted; a
# query then reads ONLY its own tokens' postings/lexicon rows — the
# token-hash bucket layout prunes at file listing (PartitionFilters) and
# the exact token equality pushes into the parquet scan (PushedFilters),
# the same layout contract as text.write_postings_index and the IVF-PQ
# index sidecar.  bm25_query_index / ql_query_index reproduce their
# in-memory twins row-for-row (tested), so the index is a pure IO
# optimization, not a semantics fork.

SEARCH_INDEX_BUCKETS = 64


def write_search_index(
    docs: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = SEARCH_INDEX_BUCKETS,
) -> None:
    """Persist the lexical search index:

    - ``{path}/postings`` — (id, token, tf), parquet PARTITIONED BY the
      token's stable hash bucket (a directory per raw token would be a
      filesystem DoS at corpus scale; a query still prunes to its own
      tokens' buckets);
    - ``{path}/lexicon``  — (token, df, ctf), same bucket layout;
    - ``{path}/docs``     — (id, dl) document lengths (zero-token
      documents included — they count toward N/avgdl, matching the
      in-memory operators' narrow dl relation);
    - ``{path}/stats``    — one row (n_docs, t_tokens);
    - ``{path}/meta``     — one row (n_buckets): the index is
      self-describing, so readers and appenders never need to be told
      the writer's bucket count.
    """
    spark = docs.sparkSession
    _INDEX_META_CACHE.pop(path, None)  # rebuild may change the layout
    # a rebuild is a fresh index: stale append generations or compacted
    # bases from a previous life would otherwise shadow or double-count
    sc = spark.sparkContext
    hpath = sc._jvm.org.apache.hadoop.fs.Path
    fs = hpath(path).getFileSystem(sc._jsc.hadoopConfiguration())
    for sub in ("delta", "base"):
        fs.delete(hpath(f"{path}/{sub}"), True)
    spark.createDataFrame(
        [(int(n_buckets),)], "n_buckets int"
    ).write.mode("overwrite").parquet(f"{path}/meta")
    bucket = F.pmod(F.xxhash64("token"), F.lit(n_buckets)).cast("int")
    toks = docs.select(
        F.col(id_col).alias("id"),
        F.explode(tokens(F.col(text_col))).alias("token"),
    )
    tf = toks.groupBy("id", "token").agg(
        F.count(F.lit(1)).cast("long").alias("tf")
    )
    tf.withColumn("bucket", bucket).write.mode("overwrite").partitionBy(
        "bucket"
    ).parquet(f"{path}/postings")
    lex = tf.groupBy("token").agg(
        F.count(F.lit(1)).cast("long").alias("df_"),
        F.sum("tf").cast("long").alias("ctf"),
    )
    lex.withColumn("bucket", bucket).write.mode("overwrite").partitionBy(
        "bucket"
    ).parquet(f"{path}/lexicon")
    dl = docs.select(
        F.col(id_col).alias("id"),
        F.size(tokens(F.col(text_col))).cast("long").alias("dl"),
    )
    dl.write.mode("overwrite").parquet(f"{path}/docs")
    dl.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("dl").cast("long").alias("t_tokens"),
    ).write.mode("overwrite").parquet(f"{path}/stats")


_POSTINGS_SCHEMA = "id long, token string, tf long, bucket int"
_LEXICON_SCHEMA = "token string, df_ long, ctf long, bucket int"


# n_buckets per index path, memoized: the meta sidecar is immutable for
# a given index layout, so the per-query-call Spark job it cost (a read
# + collect on every bm25/QL/phrase/append call — serving-path latency)
# is paid once per process; write_search_index invalidates its path so
# an in-process rebuild with a different bucket count can't serve stale
_INDEX_META_CACHE: dict[str, int] = {}


def _index_buckets(spark, path: str, n_buckets: int | None) -> int:
    """Resolve an index's bucket count from the meta sidecar
    (write_search_index always emits it).  An explicit argument is
    VALIDATED against meta, never trusted over it: a mismatched bucket
    count would silently route new postings into different buckets than
    the persisted ones, corrupting every pruned read after — fail fast
    instead.  The sidecar read is memoized per index path (immutable
    per layout); the validation always runs.  In-process rebuilds
    (write_search_index) invalidate the memo; an index rebuilt by
    ANOTHER process under the same path is outside the single-writer
    contract — a caller that must tolerate that passes the explicit
    ``n_buckets`` it expects, because an explicit-argument mismatch
    re-reads the sidecar before deciding (so a stale memo never raises
    or masks a legitimate external rebuild)."""
    stored = _INDEX_META_CACHE.get(path)
    if stored is None:
        stored = spark.read.parquet(f"{path}/meta").collect()[0]["n_buckets"]
        _INDEX_META_CACHE[path] = int(stored)
    if n_buckets is not None and int(n_buckets) != int(stored):
        # the memo may be stale (external rebuild): re-read once before
        # declaring a mismatch
        stored = spark.read.parquet(f"{path}/meta").collect()[0]["n_buckets"]
        _INDEX_META_CACHE[path] = int(stored)
    if n_buckets is not None and int(n_buckets) != int(stored):
        raise ValueError(
            f"search index at {path} was written with n_buckets={stored}; "
            f"got explicit n_buckets={n_buckets} — mixed bucket layouts "
            "silently mis-route postings, rebuild the index instead"
        )
    return stored


def _read_or_empty(spark, path: str, schema: str) -> DataFrame:
    """Read an index component, tolerating the zero-row case: a
    PARTITIONED parquet write with no rows emits no data files, so a
    later read cannot infer a schema — an empty (freshly seeded) index
    is still a valid index, so fall back to an empty relation with the
    component's schema."""
    try:
        return spark.read.parquet(path)
    except Exception:
        return spark.createDataFrame([], schema)


def _query_terms(spark, queries: DataFrame):
    """(query_id, token, qtf) rows of the tiny query relation, plus the
    distinct token list driving static bucket/token pruning.  The
    collect is query-sized (the repo's model-sized-collect rule)."""
    qt = (
        queries.select(
            "query_id", F.explode(tokens(F.col("query"))).alias("token")
        )
        .groupBy("query_id", "token")
        .agg(F.count(F.lit(1)).cast("long").alias("qtf"))
    )
    rows = qt.collect()
    terms = sorted({r["token"] for r in rows})
    return rows, terms


def _pruned(spark, path: str, terms: list[str], n_buckets: int) -> DataFrame:
    """Read an index component pruned to the query's tokens: bucket
    values computed with the WRITER's hash, then token equality on top
    (reaches the scan as PushedFilters)."""
    schema = (
        _LEXICON_SCHEMA if path.endswith("/lexicon") else _POSTINGS_SCHEMA
    )
    t = _read_or_empty(spark, path, schema)
    if not terms:
        return t.filter(F.lit(False))
    bucket_rows = (
        spark.createDataFrame([(w,) for w in terms], "token string")
        .select(
            F.pmod(F.xxhash64("token"), F.lit(n_buckets))
            .cast("int")
            .alias("b")
        )
        .collect()
    )
    buckets = sorted({r["b"] for r in bucket_rows})
    return t.filter(F.col("bucket").isin(buckets)).filter(
        F.col("token").isin(terms)
    )


def _delta_gens(spark, path: str) -> tuple[list[int], list[int]]:
    """(committed, all) append-generation numbers under ``{path}/delta``
    — a generation counts as COMMITTED only when its ``commit`` parquet
    holds committed DATA files, which the Hadoop output committer moves
    out of _temporary as the LAST act of the append's final job (the
    _SUCCESS marker alone is NOT trusted: deployments commonly disable
    it with mapreduce.fileoutputcommitter.marksuccessfuljobs=false, and
    keying visibility off it would silently orphan every append there).
    Uncommitted directories (a crashed or in-flight append) are
    invisible to readers and to the next append, which is the whole
    atomicity story.  Listed through the Hadoop FS API so the layout
    works on any Spark filesystem."""
    sc = spark.sparkContext
    jvm = sc._jvm
    dpath = jvm.org.apache.hadoop.fs.Path(f"{path}/delta")
    fs = dpath.getFileSystem(sc._jsc.hadoopConfiguration())
    if not fs.exists(dpath):
        return [], []
    committed: list[int] = []
    all_gens: list[int] = []
    for st in fs.listStatus(dpath):
        name = st.getPath().getName()
        if not name.isdigit():
            continue
        g = int(name)
        all_gens.append(g)
        parts = fs.globStatus(
            jvm.org.apache.hadoop.fs.Path(
                f"{path}/delta/{name}/commit/part-*"
            )
        )
        if parts is not None and len(parts) > 0:
            committed.append(g)
    return sorted(committed), sorted(all_gens)


def _base_state(spark, path: str) -> tuple[str, int]:
    """``(base_dir, folded_upto)`` — the serving base of a search index:
    the newest COMMITTED compacted base under ``{path}/base`` (written
    by :func:`compact_search_index`), or the legacy top-level layout
    (``write_search_index`` output; folded_upto 0) when none exists.
    A base directory is named ``{gen}_{folded_upto}`` — the highest
    delta generation folded into it rides in the NAME, so resolving the
    serving state costs one FS listing (no parquet read on the query
    path), and readers knowing the watermark can ignore folded delta
    directories even when a crash interrupted their reclamation.
    Commit detection matches :func:`_delta_gens` (committed data files
    under ``commit/``, the last write of a compaction): an uncommitted
    base — a compaction that died mid-write — is invisible, so serving
    stays on the previous state."""
    sc = spark.sparkContext
    jvm = sc._jvm
    bpath = jvm.org.apache.hadoop.fs.Path(f"{path}/base")
    fs = bpath.getFileSystem(sc._jsc.hadoopConfiguration())
    if not fs.exists(bpath):
        return path, 0
    best = None
    for st in fs.listStatus(bpath):
        name = st.getPath().getName()
        head, _, tail = name.partition("_")
        if not (head.isdigit() and tail.isdigit()):
            continue
        g = int(head)
        parts = fs.globStatus(
            jvm.org.apache.hadoop.fs.Path(
                f"{path}/base/{name}/commit/part-*"
            )
        )
        if parts is not None and len(parts) > 0:
            if best is None or g > best[0]:
                best = (g, int(tail), name)
    if best is None:
        return path, 0
    return f"{path}/base/{best[2]}", best[1]


def _search_components(spark, path: str, terms: list[str], n_buckets: int):
    """(postings, lexicon, dl, stats) of a persisted search index
    resolved across its committed append generations: postings and
    document lengths are the base (newest committed compacted base, or
    the legacy top-level layout) plus every committed delta ABOVE the
    base's folded watermark (pruned per directory); the lexicon and
    stats are SNAPSHOTS — each append writes the fully-merged aggregate
    into its generation, so readers take only the newest committed
    copy, keeping the serving read path one directory per aggregate
    however long ingestion runs."""
    base_dir, folded = _base_state(spark, path)
    gens, _ = _delta_gens(spark, path)
    gens = [g for g in gens if g > folded]
    post = _pruned(spark, f"{base_dir}/postings", terms, n_buckets)
    dl = _read_or_empty(
        spark, f"{base_dir}/docs", "id long, dl long"
    ).select("id", "dl")
    for g in gens:
        post = post.unionByName(
            _pruned(spark, f"{path}/delta/{g}/postings", terms, n_buckets)
        )
        dl = dl.unionByName(
            spark.read.parquet(f"{path}/delta/{g}/docs").select("id", "dl")
        )
    lex_dir = (
        f"{path}/delta/{gens[-1]}/lexicon" if gens else f"{base_dir}/lexicon"
    )
    stats_dir = (
        f"{path}/delta/{gens[-1]}/stats" if gens else f"{base_dir}/stats"
    )
    lex = _pruned(spark, lex_dir, terms, n_buckets)
    stats = spark.read.parquet(stats_dir)
    return post, lex, dl, stats


def bm25_query_index(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "doc_id",
    n_buckets: int | None = None,
) -> DataFrame:
    """Okapi BM25 served from a PERSISTED index
    (:func:`write_search_index`): identical integer protocol to
    text.bm25_topk (idf at the 1e-4 ln quantum, the 1e5-scaled
    integer-DIV tf normalization), but the corpus text is never touched
    — query IO is the query's own tokens' postings + lexicon rows plus
    the match-bounded dl join.  Row-for-row equal to the in-memory form
    (tested)."""
    n_buckets = _index_buckets(spark, path, n_buckets)
    qrows, terms = _query_terms(spark, queries)
    qt = spark.createDataFrame(
        [(r["query_id"], r["token"]) for r in qrows],
        "query_id long, token string",
    ).distinct()
    post, lex, dl, stats = _search_components(spark, path, terms, n_buckets)
    stats = stats.select(
        "n_docs", F.expr("t_tokens * 1000 DIV n_docs").alias("avgdl_q")
    )
    idf_q = F.floor(
        F.log(
            F.lit(1.0)
            + (F.col("n_docs") - F.col("df_") + 0.5) / (F.col("df_") + 0.5)
        )
        * 10000
        + F.lit(0.5)
    ).cast("long")
    scored = (
        post.join(F.broadcast(qt), "token")
        .join(F.broadcast(lex.select("token", "df_")), "token")
        .join(dl, "id")
        .crossJoin(F.broadcast(stats))
        .select(
            "query_id",
            "id",
            (
                idf_q
                * F.expr(
                    "(2200000 * tf) DIV (10 * tf + 3 + (9000 * dl) DIV avgdl_q)"
                )
            ).alias("__s"),
        )
        .groupBy("query_id", "id")
        .agg(F.sum("__s").alias("__score"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("__score"), F.asc("id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            F.col("id").alias(id_col),
            F.col("rank").cast("long").alias("rank"),
            (F.col("__score").cast("double") / 1e9).alias("bm25"),
        )
    )


def ql_query_index(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 5,
    mu: int = 2000,
    id_col: str = "doc_id",
    n_buckets: int | None = None,
) -> DataFrame:
    """Dirichlet query likelihood served from the same persisted index —
    identical protocol to :func:`ql_topk` (both ln factors at the 1e-6
    quantum), identical results (tested); query IO is the query's
    tokens' rows plus the match-bounded dl join."""
    n_buckets = _index_buckets(spark, path, n_buckets)
    qrows, terms = _query_terms(spark, queries)
    qt = spark.createDataFrame(
        [(r["query_id"], r["token"], r["qtf"]) for r in qrows],
        "query_id long, token string, qtf long",
    )
    post, lex, dl, stats = _search_components(spark, path, terms, n_buckets)
    total = stats.select("t_tokens")
    qv = qt.join(F.broadcast(lex.select("token", "ctf")), "token")
    qlen = qv.groupBy("query_id").agg(F.sum("qtf").alias("qlen"))
    a_q = F.floor(
        F.log(
            F.lit(1.0)
            + (F.col("tf") * F.col("t_tokens"))
            / (F.lit(mu) * F.col("ctf"))
        )
        * QL_SCALE
        + F.lit(0.5)
    ).cast("long")
    asum = (
        post.join(F.broadcast(qv), "token")
        .crossJoin(F.broadcast(total))
        .select("query_id", "id", (F.col("qtf") * a_q).alias("__a"))
        .groupBy("query_id", "id")
        .agg(F.sum("__a").alias("__asum"))
    )
    b_q = F.floor(
        F.log(F.lit(mu) / (F.col("dl") + F.lit(mu))) * QL_SCALE + F.lit(0.5)
    ).cast("long")
    scored = (
        asum.join(dl, "id")
        .join(F.broadcast(qlen), "query_id")
        .select(
            "query_id",
            "id",
            (F.col("__asum") + F.col("qlen") * b_q).alias("__score"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("__score"), F.asc("id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            F.col("id").alias(id_col),
            F.col("rank").cast("long").alias("rank"),
            (F.col("__score").cast("double") / QL_SCALE).alias("ql"),
        )
    )


def append_to_search_index(
    batch_docs: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int | None = None,
) -> None:
    """Absorb a batch of NEW documents into a persisted search index
    (:func:`write_search_index`) without rebuilding it — the streaming/
    incremental ingestion path (same append contract as the IVF-PQ
    index: document ids must be previously unseen; re-ingesting an id
    would double-count its postings).

    STAGED COMMIT — appends are atomic: every component of the batch is
    written into a fresh generation directory ``{path}/delta/<gen>/``
    (postings + dl deltas; the lexicon and corpus stats as fully-merged
    SNAPSHOTS, merged from the newest committed state), and the
    generation becomes visible only when its ``commit`` parquet lands —
    the last write of the sequence.  Readers (:func:`_search_components`)
    and subsequent appends resolve committed generations only, so a
    crash at ANY point leaves served results exactly equal to the
    pre-append state, and RETRYING the failed batch is safe: the
    orphaned directory is skipped forever (and reclaimed by
    :func:`compact_search_index`).  The merged lexicon/stats stay
    vocabulary-/one-row-sized however long ingestion runs, and serving
    queries against the maintained index equals a from-scratch build
    over the full corpus exactly (tested, batch and foreachBatch, plus
    the kill-between-steps test).  SINGLE SEQUENTIAL WRITER: appends
    must not run concurrently against one index path — two writers
    would pick the same generation number and interleave components
    (foreachBatch delivers micro-batches sequentially, which satisfies
    this by construction; a retry only starts after its predecessor
    died).  Same id contract as the IVF-PQ
    index: document ids must be previously unseen.  An explicit
    ``n_buckets`` is validated against the index's meta sidecar and
    raises on mismatch (a silent mismatch would bucket new postings
    differently from old ones)."""
    spark = batch_docs.sparkSession
    n_buckets = _index_buckets(spark, path, n_buckets)
    base_dir, folded = _base_state(spark, path)
    committed, all_gens = _delta_gens(spark, path)
    committed = [g for g in committed if g > folded]
    # never reuse a folded generation number, even after its delta dir
    # was reclaimed — a reused number would shadow the base's watermark
    gen = max(all_gens + [folded]) + 1 if (all_gens or folded) else 1
    gdir = f"{path}/delta/{gen}"
    cur = f"{path}/delta/{committed[-1]}" if committed else base_dir
    bucket = F.pmod(F.xxhash64("token"), F.lit(n_buckets)).cast("int")
    toks = batch_docs.select(
        F.col(id_col).alias("id"),
        F.explode(tokens(F.col(text_col))).alias("token"),
    )
    tf = toks.groupBy("id", "token").agg(
        F.count(F.lit(1)).cast("long").alias("tf")
    )
    tf = cut(tf)  # read twice (postings + lexicon delta)
    tf.withColumn("bucket", bucket).write.mode("overwrite").partitionBy(
        "bucket"
    ).parquet(f"{gdir}/postings")
    delta = tf.groupBy("token").agg(
        F.count(F.lit(1)).cast("long").alias("df_"),
        F.sum("tf").cast("long").alias("ctf"),
    )
    # merge source is the COMMITTED snapshot, write target the fresh
    # generation — no read-overwrite cycle, so no checkpoint needed
    merged_lex = (
        _read_or_empty(spark, f"{cur}/lexicon", _LEXICON_SCHEMA)
        .select("token", "df_", "ctf")
        .unionByName(delta)
        .groupBy("token")
        .agg(
            F.sum("df_").cast("long").alias("df_"),
            F.sum("ctf").cast("long").alias("ctf"),
        )
        .withColumn("bucket", bucket)
    )
    merged_lex.write.mode("overwrite").partitionBy("bucket").parquet(
        f"{gdir}/lexicon"
    )
    dl = batch_docs.select(
        F.col(id_col).alias("id"),
        F.size(tokens(F.col(text_col))).cast("long").alias("dl"),
    )
    dl.write.mode("overwrite").parquet(f"{gdir}/docs")
    merged_stats = (
        spark.read.parquet(f"{cur}/stats")
        .unionByName(
            dl.agg(
                F.count(F.lit(1)).cast("long").alias("n_docs"),
                F.coalesce(F.sum("dl"), F.lit(0)).cast("long").alias("t_tokens"),
            )
        )
        .agg(
            F.sum("n_docs").cast("long").alias("n_docs"),
            F.sum("t_tokens").cast("long").alias("t_tokens"),
        )
    )
    merged_stats.write.mode("overwrite").parquet(f"{gdir}/stats")
    # THE COMMIT: one tiny parquet job whose success marker flips the
    # whole generation visible — everything before this line is invisible
    spark.createDataFrame([(int(gen),)], "gen int").write.mode(
        "overwrite"
    ).parquet(f"{gdir}/commit")


def compact_search_index(spark, path: str, n_buckets: int | None = None) -> None:
    """Fold committed append generations into a NEW compacted base and
    reclaim delta directories (folded AND orphaned) — the read-
    amplification maintenance for long-running ingestion: readers union
    one postings/dl directory per committed generation, so compaction
    restores the single-directory read path.  NOT needed for
    correctness, ever — appends stay atomic without it.

    STAGED COMMIT, same contract as the appends: every merged component
    is written into a fresh generation directory
    ``{path}/base/{gen}_{folded_upto}`` (the highest delta generation
    folded rides in the NAME), and the generation becomes visible only
    when its ``commit`` parquet lands — the last write.  A crash at ANY
    point therefore serves exactly the pre-compaction state: before
    commit the new base is invisible (readers stay on the old base +
    deltas, all still present); after commit the folded watermark makes
    readers ignore the folded deltas even if the crash interrupted
    their reclamation, so nothing is ever double-counted.  Reclamation
    (folded/orphaned deltas, superseded and uncommitted bases, the
    legacy top-level components once a compacted base exists) is pure
    garbage collection after the commit; a re-run finishes it.
    SINGLE WRITER, QUIESCED READERS: like the appends, compaction must
    not run concurrently with an append on the same path (an in-flight
    append's uncommitted directory would be reclaimed as an orphan),
    and READERS must be quiesced too — reclamation deletes the
    superseded base and folded deltas immediately after the commit
    marker lands, so a reader that resolved the OLD base just before
    the commit would fail on deleted parquet files mid-query.  The
    crash-at-any-point guarantee above is about WRITER crashes
    (re-runs and readers starting after the crash see a consistent
    state); it is not reader-concurrency isolation.  Online compaction
    would defer reclamation to a separate GC step with a grace window
    (offline maintenance keeps the layout dependency-free instead)."""
    n_buckets = _index_buckets(spark, path, n_buckets)
    base_dir, folded = _base_state(spark, path)
    committed, all_gens = _delta_gens(spark, path)
    fold = [g for g in committed if g > folded]
    sc = spark.sparkContext
    jvm = sc._jvm
    hpath = jvm.org.apache.hadoop.fs.Path
    fs = hpath(path).getFileSystem(sc._jsc.hadoopConfiguration())

    def reclaim(new_base_name: str | None, new_folded: int) -> None:
        # folded + orphaned delta dirs (never a committed, unfolded one)
        live = {g for g in committed if g > new_folded}
        for g in all_gens:
            if g not in live:
                fs.delete(hpath(f"{path}/delta/{g}"), True)
        bpath = hpath(f"{path}/base")
        if fs.exists(bpath):
            keep = new_base_name or (
                base_dir.rsplit("/", 1)[-1] if base_dir != path else None
            )
            for st in fs.listStatus(bpath):
                name = st.getPath().getName()
                if name != keep:
                    fs.delete(st.getPath(), True)
            # once a compacted base serves, the legacy top-level
            # components are dead weight (meta stays — layout contract)
            if keep is not None:
                for comp in ("postings", "lexicon", "docs", "stats"):
                    fs.delete(hpath(f"{path}/{comp}"), True)

    if not fold:
        # nothing new to fold: reclamation only (orphans, stale dirs)
        reclaim(None, folded)
        return
    cur = f"{path}/delta/{fold[-1]}"
    post = _read_or_empty(spark, f"{base_dir}/postings", _POSTINGS_SCHEMA)
    dl = _read_or_empty(
        spark, f"{base_dir}/docs", "id long, dl long"
    ).select("id", "dl")
    for g in fold:
        post = post.unionByName(
            spark.read.parquet(f"{path}/delta/{g}/postings")
        )
        dl = dl.unionByName(
            spark.read.parquet(f"{path}/delta/{g}/docs").select("id", "dl")
        )
    base_gen = (
        int(base_dir.rsplit("/", 1)[-1].partition("_")[0]) + 1
        if base_dir != path
        else 1
    )
    new_name = f"{base_gen}_{fold[-1]}"
    gdir = f"{path}/base/{new_name}"
    # writes target a FRESH directory — no read-overwrite cycle, so no
    # checkpoint barrier is needed (the old base stays readable until
    # the commit marker flips visibility)
    post.select("id", "token", "tf", "bucket").write.mode(
        "overwrite"
    ).partitionBy("bucket").parquet(f"{gdir}/postings")
    dl.write.mode("overwrite").parquet(f"{gdir}/docs")
    spark.read.parquet(f"{cur}/lexicon").write.mode("overwrite").partitionBy(
        "bucket"
    ).parquet(f"{gdir}/lexicon")
    spark.read.parquet(f"{cur}/stats").write.mode("overwrite").parquet(
        f"{gdir}/stats"
    )
    # THE COMMIT: the new base becomes visible here and not before
    spark.createDataFrame(
        [(int(base_gen), int(fold[-1]))], "gen int, folded_upto int"
    ).write.mode("overwrite").parquet(f"{gdir}/commit")
    reclaim(new_name, fold[-1])


def ndcg_oracle_sql(truth_sql: str, approx_sql: str, k: int) -> str:
    """Generic DuckDB twin of :func:`ndcg_vs_truth` over two ranking
    subqueries that each yield (query_id, corpus_id, rank) — used to
    grade ANY approximate ranking (IVF-PQ rerank, LSH, truncation)
    against its exact truth with the same Python-constant weights."""
    weights = _ndcg_weights(k)
    idcg = sum((k + 1 - i) * w for i, w in enumerate(weights, start=1))
    wvals = ", ".join(f"({i}, {w})" for i, w in enumerate(weights, start=1))
    return f"""
    WITH t AS (SELECT query_id, corpus_id, rank AS rn FROM ({truth_sql}) __t),
    a AS (SELECT query_id, corpus_id, rank AS rn FROM ({approx_sql}) __a),
    w(pos, wq) AS (VALUES {wvals}),
    g AS (
      SELECT a.query_id,
             CAST(sum(COALESCE({k} + 1 - t.rn, 0) * w.wq) AS BIGINT) AS dcg,
             CAST(sum(CASE WHEN t.rn IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS overlap
      FROM a
      JOIN w ON w.pos = a.rn
      LEFT JOIN t ON t.query_id = a.query_id AND t.corpus_id = a.corpus_id
      GROUP BY 1
    ),
    t1 AS (SELECT query_id, corpus_id FROM t WHERE rn = 1),
    m AS (
      SELECT a.query_id, {NDCG_SCALE} // a.rn AS mrr_q
      FROM a JOIN t1 ON t1.query_id = a.query_id AND t1.corpus_id = a.corpus_id
    )
    SELECT g.query_id, g.overlap,
           CAST(g.dcg * 10000 // {idcg} AS DOUBLE) / 10000.0 AS ndcg,
           CAST(COALESCE(m.mrr_q, 0) AS DOUBLE) / {NDCG_SCALE} AS mrr
    FROM g LEFT JOIN m ON m.query_id = g.query_id
    ORDER BY g.query_id
    """


# ------------------------------------------------------------- snippets
def best_snippet(
    df: DataFrame,
    queries: DataFrame,
    w: int = 10,
    n_docs: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Result presentation: for each query's BM25 top-``n_docs``
    documents, find the best ``w``-token window — the one covering the
    most DISTINCT query terms (ties: more total hits, then the earliest
    position) — and emit it as a token-space snippet.

    Fully relational: candidate docs come from text.bm25_topk; the
    positional postings of the query's terms in just those documents
    feed an anchor-window self-join whose size is (hits per doc)^2 —
    bounded by query-term occurrences, never document length — and the
    snippet text is an in-row slice of the token array.  Everything is
    integer counting, so the oracle matches exactly.

    Output: (query_id, doc_id, snippet_start, n_terms, snippet)."""
    from adtl_spark.operators.text import bm25_topk

    cand = bm25_topk(df, queries, k=n_docs, text_col=text_col, id_col=id_col)
    cand = cand.select("query_id", F.col(id_col).alias("id"))
    qterms = queries.select(
        "query_id", F.explode(tokens(F.col("query"))).alias("token")
    ).distinct()
    pos = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(tokens(F.col(text_col))).alias("pos", "token"),
    )
    # tiny; read twice by the self-join
    hits = cut(
        pos.join(F.broadcast(cand), "id")
        .join(F.broadcast(qterms), ["query_id", "token"])
        .select("query_id", "id", "pos", "token")
    )
    a = hits.select("query_id", "id", F.col("pos").alias("apos"))
    b = hits.select(
        "query_id", "id", F.col("pos").alias("bpos"), F.col("token").alias("btok")
    )
    cov = (
        a.join(F.broadcast(b), ["query_id", "id"])
        .filter(
            (F.col("bpos") >= F.col("apos"))
            & (F.col("bpos") < F.col("apos") + w)
        )
        .groupBy("query_id", "id", "apos")
        .agg(
            F.countDistinct("btok").cast("long").alias("n_terms"),
            F.count(F.lit(1)).cast("long").alias("n_hits"),
        )
    )
    sel = Window.partitionBy("query_id", "id").orderBy(
        F.desc("n_terms"), F.desc("n_hits"), F.asc("apos")
    )
    best = (
        cov.withColumn("__rn", F.row_number().over(sel))
        .filter(F.col("__rn") == 1)
        .select("query_id", "id", "apos", "n_terms")
    )
    toks_arr = df.select(
        F.col(id_col).alias("id"), tokens(F.col(text_col)).alias("__toks")
    )
    return (
        toks_arr.join(F.broadcast(best), "id")
        .select(
            "query_id",
            F.col("id").alias(id_col),
            F.col("apos").cast("long").alias("snippet_start"),
            "n_terms",
            F.array_join(
                F.slice(F.col("__toks"), F.col("apos") + 1, w), " "
            ).alias("snippet"),
        )
        .orderBy("query_id", id_col)
    )


def best_snippet_oracle_sql(
    table: str,
    queries: list[tuple[int, str]],
    w: int = 10,
    n_docs: int = 3,
) -> str:
    """DuckDB twin of :func:`best_snippet`: BM25 oracle candidates, the
    range-derived positional postings (the phrase-search pattern), the
    same anchor-window coverage counting and tie-breaks, and the same
    token-slice snippet rendering."""
    from adtl_spark.operators.text import bm25_topk_oracle_sql

    qvals = ", ".join(f"({qid}, '{q}')" for qid, q in queries)
    bm = bm25_topk_oracle_sql(table, queries, k=n_docs)
    return f"""
    WITH cand AS (SELECT query_id, doc_id AS id FROM ({bm}) __bm),
    q(query_id, query) AS (VALUES {qvals}),
    qterms AS (
      SELECT DISTINCT query_id, unnest(
        list_filter(string_split_regex(lower(query), '\\s+'), t -> t != '')
      ) AS token
      FROM q
    ),
    tarr AS (
      SELECT doc_id AS id,
             list_filter(string_split_regex(lower(text), '\\s+'), t -> t != '') AS toks
      FROM {table}
    ),
    t AS (
      SELECT id, i - 1 AS pos, toks[CAST(i AS INT)] AS token
      FROM tarr
      CROSS JOIN (
        SELECT unnest(range(1, (
          SELECT CAST(max(len(toks)) AS BIGINT) + 1 FROM tarr))) AS i
      ) idx
      WHERE i <= len(toks)
    ),
    hits AS (
      SELECT c.query_id, t.id, t.pos, t.token
      FROM t
      JOIN cand c ON c.id = t.id
      JOIN qterms qt ON qt.query_id = c.query_id AND qt.token = t.token
    ),
    cov AS (
      SELECT a.query_id, a.id, a.pos AS apos,
             CAST(count(DISTINCT b.token) AS BIGINT) AS n_terms,
             CAST(count(*) AS BIGINT) AS n_hits
      FROM hits a
      JOIN hits b ON b.query_id = a.query_id AND b.id = a.id
       AND b.pos >= a.pos AND b.pos < a.pos + {w}
      GROUP BY 1, 2, 3
    ),
    best AS (
      SELECT query_id, id, apos, n_terms FROM (
        SELECT query_id, id, apos, n_terms,
               row_number() OVER (
                 PARTITION BY query_id, id
                 ORDER BY n_terms DESC, n_hits DESC, apos ASC
               ) AS rn
        FROM cov
      ) WHERE rn = 1
    )
    SELECT b.query_id, b.id AS doc_id,
           CAST(b.apos AS BIGINT) AS snippet_start, b.n_terms,
           array_to_string(
             ta.toks[CAST(b.apos + 1 AS INT):CAST(b.apos + {w} AS INT)], ' '
           ) AS snippet
    FROM best b JOIN tarr ta ON ta.id = b.id
    ORDER BY b.query_id, doc_id
    """
