"""Similarity search over embedding columns (array<float>).

Two paths:

- **brute-force cosine top-k** — the exactness baseline: broadcast the
  (small) query set against the corpus, dot products as native
  ``aggregate(zip_with(...))`` expressions (JVM-side, no Python), top-k via
  window.  Correct at any scale where queries are broadcastable; corpus side
  stays partition-parallel and never shuffles (the only shuffle is the
  final per-query top-k, keyed by query id).
- **LSH-bucketed ANN** — the scale path: random-hyperplane signatures
  (sign of dot with h fixed pseudo-random planes) bucket the corpus; a
  query only scans its own bucket (plus multi-probe neighbors).  Planes are
  generated from a deterministic LCG so signatures are reproducible and the
  DuckDB oracle can mirror them.

Cosine over float arrays is computed in double precision, summing in
element order — bit-identical to the DuckDB twin (both fold left-to-right).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from adtl_spark.session import cut_and_release


def _lcg_floats(count: int, seed: int) -> list[float]:
    """Deterministic pseudo-random values in [-1, 1) from a fixed LCG —
    embeddable as literals in both engines."""
    out = []
    state = seed
    for _ in range(count):
        state = (6364136223846793005 * state + 1442695040888963407) % (1 << 64)
        out.append((state >> 11) / float(1 << 53) * 2.0 - 1.0)
    return out


def dot(a: Column, b: Column) -> Column:
    """Double-precision dot product of two numeric arrays, left-to-right."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def cosine_arrow() -> Column:
    """Arrow-vectorized twin of :func:`cosine` for HIGH-CARDINALITY pair
    scoring (candidate joins that evaluate millions of pairs).

    The JVM ``cosine`` is an interpreted higher-order fold (aggregate over
    zip_with, no codegen) and Catalyst evaluates it once in the projection
    and AGAIN in the ``>= tau`` filter — ~2x130 interpreted ops per pair.
    This pandas_udf replays the identical IEEE sequence per row — float32
    element cast to float64, one rounded multiply-add per dim accumulated
    left-to-right from 0.0, then ``dot / (sqrt(na) * sqrt(nb))`` — so the
    doubles are bit-equal to the JVM fold, while whole Arrow batches score
    in a few numpy passes and the value is computed ONCE.

    Returns a fresh udf Column factory per call site (no global state in
    the Python workers)."""

    @F.pandas_udf("double")
    def _cos(va: pd.Series, vb: pd.Series) -> pd.Series:
        import numpy as np

        if not len(va):
            return pd.Series([], dtype="float64")
        A = np.stack(
            [np.asarray(x, dtype=np.float32) for x in va]
        ).astype(np.float64)
        B = np.stack(
            [np.asarray(x, dtype=np.float32) for x in vb]
        ).astype(np.float64)
        n = len(va)
        dot = np.zeros(n)
        na = np.zeros(n)
        nb = np.zeros(n)
        # strict left-to-right folds: one rounded add per dim per row,
        # the JVM aggregate() order (proven bit-equal in the blocked
        # all-pairs scorer)
        for j in range(A.shape[1]):
            dot += A[:, j] * B[:, j]
            na += A[:, j] * A[:, j]
            nb += B[:, j] * B[:, j]
        return pd.Series(dot / (np.sqrt(na) * np.sqrt(nb)))

    # nondeterministic marker (guide §4.4): without it Catalyst pushes the
    # ``>= tau`` filter below the projection and evaluates the udf TWICE
    # (two ArrowEvalPython nodes, every candidate scored twice); the
    # function is pure, the marker only stops the optimizer duplicating it
    return _cos.asNondeterministic()


def _topk_per_query(sims: DataFrame, k: int) -> DataFrame:
    """Exact per-query top-k in two phases: each scan partition keeps its
    local k best (sorted-array slice, map-side), then only partitions*k
    candidate rows shuffle for the final merge.  A plain rank-window would
    shuffle and sort EVERY similarity row per query — the difference
    between moving k*partitions rows and the whole corpus at scale.

    Ordering: cos desc, corpus_id asc (deterministic under ties) — encoded
    in the sort key as (cos, -corpus_id) descending."""
    keyed = sims.select(
        "query_id",
        F.struct(
            F.col("cos").alias("cos"),
            (-F.col("corpus_id")).alias("neg_id"),
            F.col("corpus_id").alias("corpus_id"),
        ).alias("sk"),
        F.spark_partition_id().alias("pid"),
    )
    partial = keyed.groupBy("query_id", "pid").agg(
        F.slice(F.sort_array(F.collect_list("sk"), asc=False), 1, k).alias("top")
    )
    merged = partial.groupBy("query_id").agg(
        F.slice(
            F.sort_array(F.flatten(F.collect_list("top")), asc=False), 1, k
        ).alias("top")
    )
    return merged.select(
        "query_id", F.posexplode("top").alias("pos", "sk")
    ).select(
        "query_id",
        F.col("sk.corpus_id").alias("corpus_id"),
        (F.col("pos") + 1).cast("long").alias("rank"),
        F.round(F.col("sk.cos"), 4).alias("cos"),
    )


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors for every query vector.

    ``queries`` is broadcast — the corpus is never shuffled for the join;
    ties break on the lower corpus id for determinism.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
    )
    c = corpus.select(F.col(id_col).alias("corpus_id"), F.col(vec_col).alias("cv"))
    sims = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("corpus_id"))
        .withColumn("cos", cosine(F.col("qv"), F.col("cv")))
    )
    return _topk_per_query(sims, k)


def cosine_topk_oracle_sql(table: str, k: int, n_queries: int) -> str:
    """DuckDB twin of cosine_topk with queries = the n lowest vec_ids.
    list_dot_product on DOUBLE[] folds left-to-right like F.aggregate."""
    return f"""
    WITH q AS (
      SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
      FROM {table} ORDER BY vec_id LIMIT {n_queries}
    ),
    c AS (SELECT vec_id AS corpus_id, CAST(embedding AS DOUBLE[]) AS cv FROM {table}),
    sims AS (
      SELECT query_id, corpus_id,
             list_dot_product(qv, cv)
               / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) AS cos
      FROM c, q WHERE query_id != corpus_id
    ),
    ranked AS (
      SELECT query_id, corpus_id, cos,
             row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, corpus_id ASC) AS rank
      FROM sims
    )
    SELECT query_id, corpus_id, CAST(rank AS BIGINT) AS rank, round(cos, 4) AS cos
    FROM ranked WHERE rank <= {k}
    """


def _dlit(x: float) -> str:
    """Spark-SQL double literal that round-trips ``x`` exactly.  Plain
    decimal literals parse as DECIMAL in Spark SQL; the exponent form is
    DOUBLE, so append ``E0`` unless ``repr`` already used an exponent."""
    r = repr(float(x))
    return r if "e" in r or "E" in r else r + "E0"


def _dot_lit_sql(vec_name: str, coords: list[float]) -> str:
    """Spark-SQL text for dot(`vec_name`, literal coords): the same
    ``aggregate(zip_with(...))`` fold as :func:`dot`, but built as ONE
    ``F.expr`` parse instead of thousands of py4j ``F.lit`` calls —
    construction drops from seconds to milliseconds at dim 64 x 16 planes.

    The fold stays a Catalyst-interpreted HOF deliberately: the per-
    dimension expanded sum (``v[0]*c0 + v[1]*c1 + ...``) compiles into a
    single generated method past HotSpot's huge-method bytecode limit, so
    the JVM never JITs it and it measures ~3x SLOWER than this interpreted
    fold.  Bit-parity: the tree is identical to :func:`dot` (same
    left-to-right fold, same float->double promotion), so the DuckDB
    oracle's ``list_dot_product`` mirror still agrees bit-for-bit."""
    arr = "array(" + ", ".join(_dlit(c) for c in coords) + ")"
    return (
        f"aggregate(zip_with(`{vec_name}`, {arr}, (x, y) -> CAST(x AS DOUBLE) * y), "
        f"0.0E0, (acc, x) -> acc + x)"
    )


def hyperplane_signature(
    vec_name: str, dim: int, planes: int = 8, seed: int = 1234
) -> Column:
    """Random-hyperplane LSH signature: bit i = sign(vec . plane_i), packed
    into a BIGINT.  Planes come from the deterministic LCG; the projection
    is a generated codegen expression (see :func:`_dot_lit_sql`)."""
    if not planes:
        return F.lit(0).cast("long")
    terms = " + ".join(
        f"(CASE WHEN {_dot_lit_sql(vec_name, _lcg_floats(dim, seed + i * 1000))} >= 0D "
        f"THEN CAST({1 << i} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
        for i in range(planes)
    )
    return F.expr(terms)


def ann_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    planes: int = 8,
    seed: int = 1234,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    multiprobe: int = 1,
) -> DataFrame:
    """Approximate top-k: corpus bucketed by hyperplane signature; each
    query scans its own bucket plus (``multiprobe``=1, the default) every
    bucket at Hamming distance 1 — the standard multi-probe LSH move.
    Probing was added because the gate MEASURED single-probe recall@5 at
    0.04 on the test corpus (ann_lsh_recall); Hamming-1 probing lifts it
    to a usable level at the cost of planes+1 bucket lookups per query,
    still a bucket equi-join (never a cross join) since the corpus side
    stays single-bucket.  A corpus vector lives in exactly one bucket and
    the probe set is distinct, so no candidate pair duplicates."""
    c = corpus.select(
        F.col(id_col).alias("corpus_id"),
        F.col(vec_col).alias("cv"),
        hyperplane_signature(vec_col, dim, planes, seed).alias("bucket"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        hyperplane_signature(vec_col, dim, planes, seed).alias("bucket"),
    )
    if multiprobe and planes:
        probes = F.array(
            F.col("bucket"),
            *[
                F.col("bucket").bitwiseXOR(F.lit(1 << i).cast("long"))
                for i in range(planes)
            ],
        )
        q = q.select(
            "query_id", "qv", F.explode(probes).alias("bucket")
        )
    sims = (
        c.join(F.broadcast(q), "bucket")
        .filter(F.col("query_id") != F.col("corpus_id"))
        .withColumn("cos", cosine(F.col("qv"), F.col("cv")))
    )
    return _topk_per_query(sims, k)


def _lowest_rows(corpus: DataFrame, n: int, id_col: str, vec_col: str):
    """ONE collect of the ``n`` lowest-id (i, v) rows — shared by every
    index-build artifact that seeds from the lowest-id prefix (IVF
    centroids, PQ codebooks, residual seeds), so a composite index like
    IVF-PQ pays one driver job for its whole build instead of one per
    artifact (they are prefixes of the same sorted relation)."""
    return (
        corpus.select(F.col(id_col).alias("i"), F.col(vec_col).alias("v"))
        .orderBy("i")
        .limit(n)
        .collect()
    )


def _centroid_literals(
    corpus: DataFrame, n_centroids: int, id_col: str, vec_col: str,
    rows=None,
) -> list[tuple[int, list[float], float]]:
    """Deterministic IVF coarse quantizer: the ``n_centroids`` lowest-id
    vectors ARE the centroids (no iterative training, so the DuckDB oracle
    can mirror the quantizer exactly).  Production IVF would k-means these;
    the partition/shuffle story downstream is identical.  One tiny collect —
    the index-build step, like LSH's fixed planes — shareable via ``rows``
    (a :func:`_lowest_rows` result of at least ``n_centroids`` rows)."""
    if rows is None:
        rows = _lowest_rows(corpus, n_centroids, id_col, vec_col)
    out = []
    for r in rows[:n_centroids]:
        vec = [float(x) for x in r["v"]]
        nrm = sum(x * x for x in vec) ** 0.5
        out.append((r["i"], vec, nrm))
    return out


def _cell_rank_sql(vec_name: str, cents) -> str:
    """Spark-SQL text for the IVF cell ranking of ``vec_name``: a sorted
    array of ``struct(s, cid)`` where ``s = -dot(vec, c)/|c|`` (|vec| is
    constant per row and cannot change the ranking).  Ascending sort on the
    negated score ranks score-descending with ties to the lower centroid id
    — the same order the old desc-sort-on-(score, -cid) encoding produced
    and the DuckDB oracle's ``ORDER BY score DESC, cid ASC`` mirrors.
    Assignment stays a narrow map over the corpus — no shuffle; see
    :func:`_dot_lit_sql` for why the dot products fold as interpreted HOFs
    and why that is the fast shape here."""
    structs = ", ".join(
        f"named_struct('s', -({_dot_lit_sql(vec_name, cvec)}) / {_dlit(nrm)}, "
        f"'cid', CAST({cid} AS BIGINT))"
        for cid, cvec, nrm in cents
    )
    return f"sort_array(array({structs}), true)"


# Size gate for the Arrow IVF cell assignment (r13, guide §4.2 + §1.3).
# Measured at 16 centroids x 64 dims: the interpreted expression form
# costs ~70 us/row (1.4 s at 20k rows, 7.3 s at 100k) while the Arrow
# pass runs the same dots in numpy (~0.6 s / 1.8 s incl. boundary) — a
# 2.5-4x win that only grows with corpus size.  BELOW ~10k rows the
# relationship inverts: the Python stage's fixed overhead (~0.3-0.5 s)
# exceeds the entire interpreted cost, so tiny corpora keep the
# expression form.  Same measured-gate pattern as
# graph.BCAST_VERTEX_ROWS_CONF; 0 disables the Arrow path entirely.
ARROW_ASSIGN_ROWS_CONF = "spark.adtl.ann.arrowAssignRows"
_ARROW_ASSIGN_ROWS_DEFAULT = 10_000

# Companion BYTES gate (r14, VERDICT item 8): above this Catalyst
# sizeInBytes estimate the Arrow branch is taken WITHOUT running the
# row-count probe at all — at corpus scale the count() was itself a full
# pass over the (possibly expensive, derived) upstream, pure overhead
# for a decision the plan metadata already settles.  The row gate's
# crossover is ~10k rows; 32 MB is comfortably above it for any
# plausible embedding row width, and a misprediction only costs the
# Python stage's fixed ~0.3-0.5 s (the branches are bit-identical, so
# the gate is a pure performance decision).  Below the bytes gate the
# precise measured row probe still decides.
ARROW_ASSIGN_BYTES_CONF = "spark.adtl.ann.arrowAssignBytes"
_ARROW_ASSIGN_BYTES_DEFAULT = 32 * 1024 * 1024


def _ivf_cell_assign(rel: DataFrame, cents, vec_field: str = "cv") -> DataFrame:
    """Append the IVF cell id to ``rel`` (which must carry the vector in
    ``vec_field``): Arrow-vectorized above the size gate (one
    mapInPandas pass — the interpreted form folds n_centroids × dim
    multiply-adds per corpus row), the original
    ``element_at(_cell_rank_sql(...), 1).cid`` expression below it.
    The two branches are BIT-IDENTICAL (exceptAll diff 0 at sf0.1 for 16
    and 32 centroids, vectors included) by _ivfpq_encode_arrow's
    argument: ``cents`` arrive in ascending cid order, so numpy's
    first-position nanargmin over ``-dot/nrm`` (per-dimension
    left-to-right float64 accumulation — the interpreted fold's IEEE
    sequence) equals sort_array's (s ASC, cid ASC) head, including the
    degenerate inputs (probed empirically against the expression form):
    a NULL vector yields all-null scores, which ascending struct sort
    puts first with the cid tiebreak -> lowest cid; an all-NaN score row
    ties every struct -> lowest cid; a partial-NaN row sorts NaN as the
    LARGEST double -> min non-NaN score, which is exactly nanargmin.
    The vector and any passthrough columns cross the Arrow boundary
    untouched; the numpy dtype follows the column's actual element type
    (float round-trips through float32 bitwise-lossless; double input is
    never narrowed).  Gate decision order (r14): a Catalyst sizeInBytes
    above ARROW_ASSIGN_BYTES_CONF picks Arrow from plan metadata alone —
    NO count job, the at-scale path; only below it does the precise
    count() probe run (one aggregate-only job over the already pruned
    input — the same probe-then-pick trade as text.schedule_frontier's
    auto-banding, now bounded to small inputs)."""
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    thr = int(
        rel.sparkSession.conf.get(
            ARROW_ASSIGN_ROWS_CONF, str(_ARROW_ASSIGN_ROWS_DEFAULT)
        )
    )
    if thr == 0:
        ranked = _cell_rank_sql(vec_field, cents)
        return rel.withColumn(
            "cell", F.expr(f"element_at({ranked}, 1).cid")
        )
    bytes_thr = int(
        rel.sparkSession.conf.get(
            ARROW_ASSIGN_BYTES_CONF, str(_ARROW_ASSIGN_BYTES_DEFAULT)
        )
    )
    est_bytes = int(
        rel._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    )
    # RDD-backed relations (createDataFrame, localCheckpoint) report
    # spark.sql.defaultSizeInBytes = Long.MaxValue, i.e. UNKNOWN — fall
    # back to the precise count probe rather than reading it as "huge"
    size_known = est_bytes < (1 << 62)
    if (est_bytes < bytes_thr or not size_known) and rel.count() < thr:
        ranked = _cell_rank_sql(vec_field, cents)
        return rel.withColumn(
            "cell", F.expr(f"element_at({ranked}, 1).cid")
        )

    cent_ids = [int(cid) for cid, _, _ in cents]
    cent_vecs = [cvec for _, cvec, _ in cents]
    cent_nrms = [nrm for _, _, nrm in cents]
    src_is_double = isinstance(
        rel.schema[vec_field].dataType.elementType, DoubleType
    )
    # copy the field list: StructType.add mutates in place, and rel.schema
    # hands back the DataFrame's cached schema object
    schema = StructType(
        list(rel.schema.fields) + [StructField("cell", LongType())]
    )

    def assign(batches):
        import numpy as np

        CID = np.asarray(cent_ids, dtype=np.int64)
        CV = np.asarray(cent_vecs, dtype=np.float64)
        NRM = np.asarray(cent_nrms, dtype=np.float64)
        src_dtype = np.float64 if src_is_double else np.float32
        for pdf in batches:
            pdf = pdf.copy()
            if not len(pdf):
                pdf["cell"] = np.array([], dtype=np.int64)
                yield pdf
                continue
            vals = pdf[vec_field]
            null_mask = vals.isna().to_numpy()
            cells = np.full(len(pdf), CID[0], dtype=np.int64)
            if (~null_mask).any():
                V = np.stack(
                    [
                        np.asarray(x, dtype=src_dtype)
                        for x in vals[~null_mask]
                    ]
                ).astype(np.float64)
                dotc = np.zeros((V.shape[0], len(CID)))
                for t in range(V.shape[1]):
                    dotc += V[:, t, None] * CV[None, :, t]
                s = (-dotc) / NRM[None, :]
                all_nan = np.isnan(s).all(axis=1)
                idx = np.zeros(s.shape[0], dtype=np.int64)
                if (~all_nan).any():
                    idx[~all_nan] = np.nanargmin(s[~all_nan], axis=1)
                cells[~null_mask] = CID[idx]
            pdf["cell"] = cells
            yield pdf

    return rel.mapInPandas(assign, schema)


def ann_ivf(
    corpus: DataFrame,
    queries: DataFrame,
    n_centroids: int = 16,
    n_probe: int = 4,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-style ANN: corpus vectors are assigned to their nearest centroid
    cell (narrow map — at scale this is the index build, written out
    partitioned by cell); each query probes its ``n_probe`` nearest cells
    and scores only those cells' vectors.  The cell equi-join replaces the
    brute-force cross join: per query, work drops from |corpus| to
    |corpus| * n_probe / n_centroids on a balanced quantizer."""
    cents = _centroid_literals(corpus, n_centroids, id_col, vec_col)
    ranked = _cell_rank_sql(vec_col, cents)
    # corpus-side cell assignment in one Arrow pass (r13): the interpreted
    # form evaluated n_centroids x dim HOF multiply-adds per corpus row;
    # the query side stays expression-based (queries are a tiny relation)
    c = _ivf_cell_assign(
        corpus.select(
            F.col(id_col).alias("corpus_id"), F.col(vec_col).alias("cv")
        ),
        cents,
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        F.explode(F.expr(f"slice({ranked}, 1, {n_probe})")).alias("__cell_s"),
    ).select(
        "query_id", "qv", F.col("__cell_s.cid").alias("cell")
    )
    sims = (
        c.join(F.broadcast(q), "cell")
        .filter(F.col("query_id") != F.col("corpus_id"))
        .withColumn("cos", cosine(F.col("qv"), F.col("cv")))
    )
    return _topk_per_query(sims, k)


def ann_ivf_oracle_sql(
    table: str, n_centroids: int, n_probe: int, k: int, n_queries: int
) -> str:
    """DuckDB twin of ann_ivf: same quantizer (lowest-id centroids), same
    probing, same tie-breaks."""
    return f"""
    WITH cent AS (
      SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cv
      FROM {table} ORDER BY vec_id LIMIT {n_centroids}
    ),
    c AS (SELECT vec_id AS corpus_id, CAST(embedding AS DOUBLE[]) AS v FROM {table}),
    assign AS (
      SELECT corpus_id, cid,
             row_number() OVER (
               PARTITION BY corpus_id
               ORDER BY list_dot_product(v, cv) / sqrt(list_dot_product(cv, cv)) DESC,
                        cid ASC
             ) AS rn
      FROM c CROSS JOIN cent
    ),
    cells AS (SELECT corpus_id, cid FROM assign WHERE rn = 1),
    q AS (
      SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
      FROM {table} ORDER BY vec_id LIMIT {n_queries}
    ),
    probes AS (
      SELECT query_id, cid FROM (
        SELECT query_id, cid,
               row_number() OVER (
                 PARTITION BY query_id
                 ORDER BY list_dot_product(qv, cv) / sqrt(list_dot_product(cv, cv)) DESC,
                          cid ASC
               ) AS rn
        FROM q CROSS JOIN cent
      ) WHERE rn <= {n_probe}
    ),
    sims AS (
      SELECT q.query_id, c.corpus_id,
             list_dot_product(q.qv, c.v)
               / (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(c.v, c.v))) AS cos
      FROM probes p
      JOIN cells ce ON ce.cid = p.cid
      JOIN c ON c.corpus_id = ce.corpus_id
      JOIN q ON q.query_id = p.query_id
      WHERE q.query_id != c.corpus_id
    ),
    ranked AS (
      SELECT query_id, corpus_id, cos,
             row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, corpus_id ASC) AS rank
      FROM sims
    )
    SELECT query_id, corpus_id, CAST(rank AS BIGINT) AS rank, round(cos, 4) AS cos
    FROM ranked WHERE rank <= {k}
    """


def _signature_sql(vec_sql: str, dim: int, planes: int, seed: int) -> str:
    """DuckDB expression mirroring :func:`hyperplane_signature` exactly:
    the SAME LCG plane literals (``repr`` round-trips doubles bit-exactly in
    both engines), the same ``>= 0`` sign threshold, the same bit packing.
    ``list_dot_product`` on DOUBLE[] folds left-to-right like
    ``F.aggregate`` so the sign bits agree bit-for-bit."""
    terms = []
    for i in range(planes):
        coords = _lcg_floats(dim, seed + i * 1000)
        plane = "[" + ", ".join(repr(c) for c in coords) + "]"
        terms.append(
            f"(CASE WHEN list_dot_product({vec_sql}, {plane}) >= 0 "
            f"THEN CAST({1 << i} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
        )
    return "(" + " + ".join(terms) + ")" if terms else "CAST(0 AS BIGINT)"


def ann_lsh_oracle_sql(
    table: str,
    dim: int,
    k: int,
    planes: int,
    seed: int,
    n_queries: int,
    multiprobe: int = 1,
) -> str:
    """DuckDB twin of ann_lsh: identical hyperplane buckets (mirrored LCG
    literals), the same Hamming-1 multi-probe expansion on the query
    side, bucket equi-join, per-query top-k with the same tie-break.
    The 'approximation' is deterministic given the planes, so the twin is
    exact — queries whose probed buckets hold fewer than k mates emit
    fewer rows in both engines."""
    sig_v = _signature_sql("v", dim, planes, seed)
    sig_q = _signature_sql("qv", dim, planes, seed)
    if multiprobe and planes:
        probe_q = f"""
      SELECT query_id, qv,
             CASE WHEN i = -1 THEN bucket0
                  ELSE xor(bucket0, CAST(1 AS BIGINT) << i) END AS bucket
      FROM q0, (SELECT unnest(range(-1, {planes})) AS i)"""
    else:
        probe_q = "SELECT query_id, qv, bucket0 AS bucket FROM q0"
    return f"""
    WITH c AS (
      SELECT vec_id AS corpus_id, CAST(embedding AS DOUBLE[]) AS v,
             {sig_v} AS bucket
      FROM {table}
    ),
    q0 AS (
      SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv,
             {sig_q} AS bucket0
      FROM (SELECT * FROM {table} ORDER BY vec_id LIMIT {n_queries})
    ),
    q AS ({probe_q}),
    sims AS (
      SELECT q.query_id, c.corpus_id,
             list_dot_product(q.qv, c.v)
               / (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(c.v, c.v))) AS cos
      FROM c JOIN q ON c.bucket = q.bucket
      WHERE q.query_id != c.corpus_id
    ),
    ranked AS (
      SELECT query_id, corpus_id, cos,
             row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, corpus_id ASC) AS rank
      FROM sims
    )
    SELECT query_id, corpus_id, CAST(rank AS BIGINT) AS rank, round(cos, 4) AS cos
    FROM ranked WHERE rank <= {k}
    """


def _neardup_allpairs_blocked(
    df: DataFrame, tau: float, id_col: str, vec_col: str
) -> DataFrame:
    """Exact all-pairs cosine >= tau — the quadratic-BY-DESIGN oracle
    truth twin of the LSH paths (never the 100 TB serving path; the gate
    runs it to measure the LSH structures' recall).

    Executed BLOCKED (guide §4.2 shape): the corpus groups into C chunk
    rows of (ids, vectors), chunk pairs cross-join (C(C+1)/2 rows, each
    carrying two blocks), and every block pair scores in numpy inside
    one mapInPandas.  The numpy fold replays the JVM ``cosine``
    expression's arithmetic EXACTLY — per pair, dot/na/nb accumulate
    left-to-right over the dims (``acc += a_d * b_d`` per dim is one
    IEEE-rounded add per pair per dim, the same sequence the
    ``aggregate(zip_with(...))`` fold performs), then
    ``dot / (sqrt(na) * sqrt(nb))`` in that operation order — so the
    values are bit-identical to the old BroadcastNestedLoopJoin form
    while the per-pair cost drops from three interpreted-HOF folds
    evaluated TWICE (join condition + projection) to vectorized numpy
    passes over whole blocks.  Rounding to 4 decimals stays in Spark SQL
    (same F.round).

    Chunk count scales with the corpus (bounded rows per chunk row), so
    no single task or row is ever corpus-sized; the quadratic chunk-pair
    fan-out is the operator's documented nature."""
    spark = df.sparkSession
    n = df.count()  # metadata-cheap on parquet; bounds chunk width
    per_chunk = 2048
    C = max(
        spark.sparkContext.defaultParallelism,
        -(-n // per_chunk) if n else 1,
    )
    c = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    chunks = c.groupBy(F.expr(f"pmod(id, {C})").alias("ck")).agg(
        F.collect_list("id").alias("ids"),
        F.collect_list("v").alias("vs"),
    )
    a = chunks.select(
        F.col("ck").alias("ck_a"),
        F.col("ids").alias("ids_a"),
        F.col("vs").alias("vs_a"),
    )
    b = chunks.select(
        F.col("ck").alias("ck_b"),
        F.col("ids").alias("ids_b"),
        F.col("vs").alias("vs_b"),
    )
    pairs = a.join(b, F.col("ck_a") <= F.col("ck_b"))

    def score(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            out_a: list = []
            out_b: list = []
            out_c: list = []
            for ck_a, ids_a, vs_a, ck_b, ids_b, vs_b in zip(
                pdf["ck_a"], pdf["ids_a"], pdf["vs_a"],
                pdf["ck_b"], pdf["ids_b"], pdf["vs_b"],
            ):
                ia = np.asarray(ids_a, dtype=np.int64)
                ib = np.asarray(ids_b, dtype=np.int64)
                if not len(ia) or not len(ib):
                    continue
                A = np.stack(
                    [np.asarray(x, dtype=np.float32) for x in vs_a]
                ).astype(np.float64)
                B = np.stack(
                    [np.asarray(x, dtype=np.float32) for x in vs_b]
                ).astype(np.float64)
                d = A.shape[1]
                # strict left-to-right folds (one rounded add per dim,
                # per pair / per vector — the JVM aggregate() order)
                dot = np.zeros((len(ia), len(ib)))
                for j in range(d):
                    dot += A[:, j, None] * B[None, :, j]
                na = np.zeros(len(ia))
                nb = np.zeros(len(ib))
                for j in range(d):
                    na += A[:, j] * A[:, j]
                    nb += B[:, j] * B[:, j]
                cos = dot / (np.sqrt(na)[:, None] * np.sqrt(nb)[None, :])
                m1 = (cos >= tau) & (ia[:, None] < ib[None, :])
                i1, j1 = np.nonzero(m1)
                out_a.extend(ia[i1])
                out_b.extend(ib[j1])
                out_c.extend(cos[i1, j1])
                if int(ck_a) != int(ck_b):
                    # cross-chunk pairs whose lower id sits in chunk B
                    # exist ONLY in this (ck_a, ck_b) row (the mirrored
                    # chunk pair was filtered by ck_a <= ck_b)
                    m2 = (cos >= tau) & (ib[None, :] < ia[:, None])
                    i2, j2 = np.nonzero(m2)
                    out_a.extend(ib[j2])
                    out_b.extend(ia[i2])
                    out_c.extend(cos[i2, j2])
            yield pd.DataFrame(
                {"id_a": pd.Series(out_a, dtype="int64"),
                 "id_b": pd.Series(out_b, dtype="int64"),
                 "cos": pd.Series(out_c, dtype="float64")}
            )

    res = pairs.mapInPandas(score, "id_a long, id_b long, cos double")
    return res.select("id_a", "id_b", F.round("cos", 4).alias("cos"))


def embedding_neardup(
    df: DataFrame,
    tau: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    planes: int = 8,
    dim: int = 64,
    seed: int = 1234,
    bands: int = 0,
) -> DataFrame:
    """Near-duplicate pairs by cosine >= tau, LSH-bucketed.

    ``bands=0`` (default): one bucket = the full ``planes``-bit signature.
    Collision probability for a pair at angle θ is (1-θ/π)^planes — the
    right structure for HIGH tau (the 0.95 default: ~0.9^8 ≈ 43-90%
    per-band... and near-identical vectors share all bits), but at low
    tau it decays geometrically; the gate MEASURES 0.022 at tau=0.35,
    matching the theory value 0.020 to the third decimal
    (dedup_embedding_recall — the calibration that lets you size planes
    for a target tau).

    ``bands=B`` (with ``planes = B*r`` total bits): OR-amplified banding —
    a pair is a candidate if ANY band's r-bit sub-signature matches
    (1-(1-p^r)^B), the structure for low-tau regimes; candidates are
    deduped before the exact cosine refilter.  Exact twin: planes=0."""
    if not planes:
        return _neardup_allpairs_blocked(df, tau, id_col, vec_col)
    sig = hyperplane_signature(vec_col, dim, planes, seed)
    # Two scorer strategies, keyed on the STRUCTURE (guide §4.1 — cross
    # the Python boundary only when the row volume pays for it):
    #  * banded (bands>0): OR-amplification exists to produce MANY
    #    candidates (low-tau regime), so candidate generation shuffles
    #    (id, bucket) ONLY — 16-ish bytes per row instead of B copies of
    #    a 64-float vector through the explode — vectors join back onto
    #    the candidate ids, and the exact refilter runs Arrow-vectorized
    #    (cosine_arrow, bit-equal to the JVM fold).
    #  * single bucket (bands=0): the AND of all `planes` bits prunes
    #    hard, candidates are sparse, and the corpus self-join needs ONE
    #    exchange (by sig, reused for both sides) — carrying the vectors
    #    through it is cheaper than two join-backs plus a Python
    #    round-trip.  The JVM fold scores each pair ONCE: the 1-element
    #    explode() is a Generate barrier Catalyst will not duplicate the
    #    expression across (without it, PushDownPredicates clones the
    #    fold into the >= tau condition and every pair pays ~2x130
    #    interpreted ops).
    c = df.select(F.col(id_col).alias("id"), sig.alias("sig"))
    if bands and planes:
        r = planes // bands
        mask = (1 << r) - 1
        buck = c.select(
            "id",
            F.explode(
                F.array(
                    *[
                        F.concat_ws(
                            "_",
                            F.lit(bnd),
                            (
                                F.shiftright(F.col("sig"), bnd * r)
                                % F.lit(mask + 1)
                            ).cast("string"),
                        )
                        for bnd in range(bands)
                    ]
                )
            ).alias("bucket"),
        )
        a, b = buck.alias("a"), buck.alias("b")
        cand = (
            a.join(
                b,
                (F.col("a.bucket") == F.col("b.bucket"))
                & (F.col("a.id") < F.col("b.id")),
            )
            .select(
                F.col("a.id").alias("id_a"),
                F.col("b.id").alias("id_b"),
            )
            .dropDuplicates(["id_a", "id_b"])
        )
    else:
        cv = df.select(
            F.col(id_col).alias("id"), F.col(vec_col).alias("v"), sig.alias("sig")
        )
        a, b = cv.alias("a"), cv.alias("b")
        scored = (
            a.join(
                b,
                (F.col("a.sig") == F.col("b.sig"))
                & (F.col("a.id") < F.col("b.id")),
            )
            .select(
                F.col("a.id").alias("id_a"),
                F.col("b.id").alias("id_b"),
                F.explode(
                    F.array(cosine(F.col("a.v"), F.col("b.v")))
                ).alias("cos"),
            )
        )
        return scored.filter(F.col("cos") >= tau).select(
            "id_a", "id_b", F.round("cos", 4).alias("cos")
        )
    vecs = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    return (
        cand.join(
            vecs.select(F.col("id").alias("id_a"), F.col("v").alias("va")),
            "id_a",
        )
        .join(
            vecs.select(F.col("id").alias("id_b"), F.col("v").alias("vb")),
            "id_b",
        )
        .withColumn("cos", cosine_arrow()(F.col("va"), F.col("vb")))
        .filter(F.col("cos") >= tau)
        .select("id_a", "id_b", F.round("cos", 4).alias("cos"))
    )


def embedding_neardup_oracle_sql(
    table: str,
    tau: float,
    planes: int = 0,
    dim: int = 64,
    seed: int = 1234,
    bands: int = 0,
) -> str:
    """DuckDB twin of embedding_neardup.  ``planes=0`` is the exact
    all-pairs form; ``planes>0`` mirrors the LSH-bucketed scale path
    (single full-signature bucket, or ``bands``-way OR-amplified
    sub-signatures) — identical hyperplane signatures restrict pairs the
    same way, so the twin reproduces the bucketed result (including any
    recall loss) rather than approximating it."""
    sig = _signature_sql("v", dim, planes, seed) if planes else "CAST(0 AS BIGINT)"
    cos = (
        "list_dot_product(a.v, b.v) / (sqrt(list_dot_product(a.v, a.v)) "
        "* sqrt(list_dot_product(b.v, b.v)))"
    )
    if bands and planes:
        r = planes // bands
        return f"""
    WITH base AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM {table}),
    sigs AS (SELECT id, v, {sig} AS sig FROM base),
    c AS (
      SELECT id, v,
             CAST(bnd AS VARCHAR) || '_' ||
             CAST((sig >> (bnd * {r})) % {1 << r} AS VARCHAR) AS bucket
      FROM sigs, (SELECT unnest(range(0, {bands})) AS bnd)
    ),
    cand AS (
      SELECT DISTINCT a.id AS id_a, b.id AS id_b
      FROM c a JOIN c b ON a.bucket = b.bucket AND a.id < b.id
    )
    SELECT cand.id_a, cand.id_b, round({cos}, 4) AS cos
    FROM cand
    JOIN sigs a ON a.id = cand.id_a
    JOIN sigs b ON b.id = cand.id_b
    WHERE {cos} >= {tau}
    """
    bucket_cond = " AND a.bucket = b.bucket" if planes else ""
    return f"""
    WITH base AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM {table}),
    c AS (SELECT id, v, {sig} AS bucket FROM base)
    SELECT a.id AS id_a, b.id AS id_b,
           round(list_dot_product(a.v, b.v)
             / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 4) AS cos
    FROM c a JOIN c b ON a.id < b.id{bucket_cond}
    WHERE list_dot_product(a.v, b.v)
             / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= {tau}
    """


def label_centroids(
    df: DataFrame,
    dim: int = 64,
    label_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-label centroid of the embedding column, in long form
    (label, dim, centroid) so the DuckDB oracle can mirror it without
    array-aggregation order hazards.

    Shape at scale: posexplode multiplies rows by ``dim``, but map-side
    partial aggregation combines per (label, dim) BEFORE the shuffle, so
    only |labels| x dim x n_partitions partial cells move — the embedding
    data itself never shuffles.  Components are quantized at 1e-6 with the
    repo's floor protocol so the mean is a ratio of exact integers
    (identical doubles in both engines, no rounding step needed)."""
    e = df.select(
        F.col(label_col).cast("long").alias("label"),
        F.posexplode(F.col(vec_col)).alias("dim", "val"),
    )
    q = F.floor(F.col("val").cast("double") * 1000000 + F.lit(0.5)).cast("long")
    return (
        e.groupBy("label", "dim")
        .agg(F.sum(q).alias("__qsum"), F.count(F.lit(1)).alias("__n"))
        .select(
            "label",
            F.col("dim").cast("long").alias("dim"),
            (F.col("__qsum").cast("double") / F.col("__n") / 1000000.0).alias(
                "centroid"
            ),
        )
    )


def label_centroids_oracle_sql(table: str, dim: int = 64) -> str:
    """DuckDB twin of :func:`label_centroids` (1-based list index maps to
    the 0-based posexplode position)."""
    return f"""
    SELECT CAST(label AS BIGINT) AS label,
           CAST(i - 1 AS BIGINT) AS dim,
           CAST(sum(CAST(floor(CAST(embedding[CAST(i AS INT)] AS DOUBLE) * 1000000 + 0.5) AS BIGINT)) AS DOUBLE)
             / count(embedding[CAST(i AS INT)]) / 1000000.0 AS centroid
    FROM {table}
    CROSS JOIN (SELECT unnest(range(1, {dim + 1})) AS i) idx
    GROUP BY 1, 2
    """


def _kmeans_cell_sql(vec_name: str, cents) -> str:
    """Spark-SQL text assigning ``vec_name`` to its nearest centroid by
    squared Euclidean distance, as argmin over ``s = 0.5|c|^2 - v.c``
    (|v|^2 is constant per row and cannot change the argmin).  Ascending
    sort on (s, cid) ties to the lower centroid id — mirrored by the
    oracle's ``ORDER BY s ASC, cid ASC``."""
    structs = ", ".join(
        f"named_struct('s', {_dlit(half_sq)} - ({_dot_lit_sql(vec_name, coords)}), "
        f"'cid', CAST({cid} AS BIGINT))"
        for cid, coords, half_sq in cents
    )
    return f"element_at(sort_array(array({structs}), true), 1).cid"


def _half_sq(coords: list[float]) -> float:
    """0.5 * |c|^2 with a left-to-right fold — the same summation order as
    ``list_dot_product`` / ``F.aggregate``, so the embedded literal equals
    what the oracle computes at runtime."""
    acc = 0.0
    for x in coords:
        acc += x * x
    return 0.5 * acc


def kmeans_assign(
    corpus: DataFrame,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Lloyd's k-means over the embedding column, returning the final
    (vec_id, cluster) assignment after ``iters`` centroid updates.

    Deterministic throughout so the DuckDB oracle can replay it exactly:
    initial centroids are the ``k`` lowest-id vectors (relabeled 0..k-1 in
    id order); assignment is a NARROW argmin expression over literal
    centroids — no join, no shuffle of the corpus; the update step is the
    same quantized-mean aggregation as :func:`label_centroids` (shuffles
    only k x dim partial cells) with a k x dim collect per iteration (the
    index-build step, like IVF's centroid collect).  Clusters that lose
    all members simply drop out of the next round in both engines."""
    cents = _kmeans_train(corpus, k, iters, id_col, vec_col)
    c = corpus.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("v"))
    return c.select(
        "vec_id", F.expr(_kmeans_cell_sql("v", cents)).alias("cluster")
    )


def _kmeans_train(
    corpus: DataFrame, k: int, iters: int, id_col: str, vec_col: str
) -> list[tuple[int, list[float], float]]:
    """The Lloyd training loop shared by :func:`kmeans_assign` and
    :func:`kmeans_centroids`: returns (cid, coords, 0.5|c|^2) triples
    after ``iters`` quantized-mean updates."""
    rows = (
        corpus.select(F.col(id_col).alias("i"), F.col(vec_col).alias("v"))
        .orderBy("i")
        .limit(k)
        .collect()
    )
    cents = []
    for cid, r in enumerate(rows):
        coords = [float(x) for x in r["v"]]
        cents.append((cid, coords, _half_sq(coords)))

    c = corpus.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("v"))
    for _ in range(iters):
        assigned = c.select(
            "vec_id", "v", F.expr(_kmeans_cell_sql("v", cents)).alias("cluster")
        )
        cells = (
            assigned.select("cluster", F.posexplode("v").alias("dim", "val"))
            .groupBy("cluster", "dim")
            .agg(
                F.sum(
                    F.floor(F.col("val").cast("double") * 1000000 + F.lit(0.5)).cast(
                        "long"
                    )
                ).alias("qsum"),
                F.count(F.lit(1)).alias("n"),
            )
            .collect()
        )
        by_cid: dict[int, dict[int, float]] = {}
        for r in cells:
            by_cid.setdefault(r["cluster"], {})[r["dim"]] = (
                r["qsum"] / r["n"] / 1000000.0
            )
        cents = []
        for cid in sorted(by_cid):
            coords = [by_cid[cid][d] for d in range(len(by_cid[cid]))]
            cents.append((cid, coords, _half_sq(coords)))
    return cents


def kmeans_centroids(
    corpus: DataFrame,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The trained k-means MODEL as a table: (cluster, dim, centroid) in
    long form after ``iters`` updates — the value-checkable artifact that
    pins the training itself (two different centroid sets can produce
    identical assignments, so :func:`kmeans_assign`'s gate alone does not
    uniquely verify the model).  The training runs distributed (see
    :func:`_kmeans_train`); the returned table is k x dim rows, driver-
    built like any index/model literal."""
    cents = _kmeans_train(corpus, k, iters, id_col, vec_col)
    rows = [
        (cid, d, coords[d]) for cid, coords, _ in cents for d in range(len(coords))
    ]
    return corpus.sparkSession.createDataFrame(
        rows, "cluster long, dim long, centroid double"
    )


def _kmeans_cte_chain(table: str, k: int, iters: int, dim: int) -> str:
    """The shared unrolled-iteration CTE chain (c, cent0, a0, cent1, ...)
    behind both k-means oracles.  Identical arithmetic to the Spark side:
    the score is ``0.5*list_dot_product(cv,cv) - list_dot_product(v,cv)``
    (same fold order as the Spark literals), means use the same floor-1e6
    protocol."""
    parts = [
        f"c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM {table})",
        f"""cent0 AS (
      SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v AS cv
      FROM (SELECT vec_id, v FROM c ORDER BY vec_id LIMIT {k})
    )""",
    ]
    for i in range(iters):
        parts.append(
            f"""a{i} AS (
      SELECT vec_id, cid AS cluster FROM (
        SELECT c.vec_id, cent.cid,
               row_number() OVER (
                 PARTITION BY c.vec_id
                 ORDER BY 0.5 * list_dot_product(cent.cv, cent.cv)
                            - list_dot_product(c.v, cent.cv) ASC,
                          cent.cid ASC
               ) AS rn
        FROM c CROSS JOIN cent{i} cent
      ) WHERE rn = 1
    )"""
        )
        parts.append(
            f"""cent{i + 1} AS (
      SELECT cid, list(m ORDER BY dim) AS cv FROM (
        SELECT a.cluster AS cid, i AS dim,
               CAST(sum(CAST(floor(c.v[CAST(i AS INT)] * 1000000 + 0.5) AS BIGINT)) AS DOUBLE)
                 / count(c.v[CAST(i AS INT)]) / 1000000.0 AS m
        FROM c JOIN a{i} a USING (vec_id)
        CROSS JOIN (SELECT unnest(range(1, {dim + 1})) AS i) idx
        GROUP BY 1, 2
      ) GROUP BY cid
    )"""
        )
    return "WITH " + ",\n    ".join(parts)


def kmeans_oracle_sql(table: str, k: int, iters: int, dim: int = 64) -> str:
    """DuckDB twin of :func:`kmeans_assign`: the shared iteration chain
    ending in the final assignment."""
    return (
        _kmeans_cte_chain(table, k, iters, dim)
        + f"""
    SELECT vec_id, CAST(cid AS BIGINT) AS cluster FROM (
      SELECT c.vec_id, cent.cid,
             row_number() OVER (
               PARTITION BY c.vec_id
               ORDER BY 0.5 * list_dot_product(cent.cv, cent.cv)
                          - list_dot_product(c.v, cent.cv) ASC,
                        cent.cid ASC
             ) AS rn
      FROM c CROSS JOIN cent{iters} cent
    ) WHERE rn = 1
    """
    )


def kmeans_centroids_oracle_sql(
    table: str, k: int, iters: int, dim: int = 64
) -> str:
    """DuckDB twin of :func:`kmeans_centroids`: the shared iteration chain
    with the final centroid table exploded to (cluster, dim, centroid)."""
    return (
        _kmeans_cte_chain(table, k, iters, dim)
        + f"""
    SELECT CAST(cid AS BIGINT) AS cluster,
           CAST(i - 1 AS BIGINT) AS dim,
           cv[CAST(i AS INT)] AS centroid
    FROM cent{iters}
    CROSS JOIN (SELECT unnest(range(1, {dim + 1})) AS i) idx
    """
    )


def quantize_embeddings(
    df: DataFrame,
    bits: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Scalar (symmetric, per-vector) quantization of the embedding column
    — the storage/transfer path for embeddings at scale: an int8 vector +
    one float scale is 4x smaller than float32, and distance computations
    over it stay SIMD-friendly.  Emits long form (vec_id, dim, qval,
    scale) so the oracle compares scalars, with
    ``qval = floor(v/scale * (2^(bits-1)-1) + 0.5)`` and
    ``scale = max(|v|)`` (0-vectors emit qval 0, scale 0).

    Entirely narrow: per-vector max and the per-dimension quantization are
    row-local array expressions — zero shuffles at any scale."""
    qmax = (1 << (bits - 1)) - 1
    v = F.col(vec_col)
    scale = F.array_max(F.transform(v, lambda x: F.abs(x.cast("double"))))
    staged = df.select(
        F.col(id_col).alias("vec_id"),
        F.posexplode(v).alias("dim", "val"),
        scale.alias("scale"),
    )
    qval = F.when(F.col("scale") > 0,
        F.floor(F.col("val").cast("double") / F.col("scale") * qmax + F.lit(0.5))
        .cast("long"),
    ).otherwise(F.lit(0))
    return staged.select(
        "vec_id",
        F.col("dim").cast("long").alias("dim"),
        qval.cast("long").alias("qval"),
        F.col("scale"),
    )


def quantize_oracle_sql(table: str, bits: int = 8, dim: int = 64) -> str:
    """DuckDB twin of :func:`quantize_embeddings`: same per-vector max-abs
    scale (order-independent), same floor protocol per component."""
    qmax = (1 << (bits - 1)) - 1
    return f"""
    WITH base AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
             list_max(list_transform(CAST(embedding AS DOUBLE[]), x -> abs(x))) AS scale
      FROM {table}
    )
    SELECT vec_id,
           CAST(i - 1 AS BIGINT) AS dim,
           CAST(CASE WHEN scale > 0
                THEN floor(v[CAST(i AS INT)] / scale * {qmax} + 0.5)
                ELSE 0 END AS BIGINT) AS qval,
           scale
    FROM base
    CROSS JOIN (SELECT unnest(range(1, {dim + 1})) AS i) idx
    """


def semantic_dedup(
    corpus: DataFrame,
    tau: float = 0.95,
    k: int | None = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al., 2023,
    arXiv:2303.09540): k-means-cluster the embeddings, score cosine only
    WITHIN each cluster, and drop every vector whose cosine to a
    lower-id cluster-mate is >= ``tau`` (the lowest id per duplicate
    group survives as the representative).  Returns the survivors as
    (vec_id, cluster).

    This is the scale path for embedding dedup when an all-pairs (or even
    LSH-bucketed) comparison is too wide: clustering first caps the
    pairwise work at sum(|cluster|^2) instead of |corpus|^2 — at 100 TB,
    k is chosen ~sqrt(N) so the expected cluster is ~sqrt(N) vectors and
    the within-cluster self-join stays an equi-join Catalyst can
    hash-partition on the cluster id.  Assignment itself is the NARROW
    literal-centroid argmin from :func:`kmeans_assign` (no corpus
    shuffle); training cost is the shared :func:`_kmeans_train` loop.

    Deterministic end to end (deterministic k-means + exact double
    cosine), so the DuckDB oracle replays it exactly — including any
    recall loss from near-duplicates split across cluster boundaries,
    which is inherent to the method, not an implementation artifact.

    Duplicate-heavy corpora (the operator's whole reason to exist) get
    the same scale move as the other dedup operators: byte-identical
    vectors COLLAPSE to one representative row before the within-cluster
    self-join, so a corpus where half the rows share one hot vector costs
    one distinct-side row, not (n/2)^2 candidate pairs.  The collapse is
    exact, not approximate: cluster assignment is a function of the
    vector alone, cosine against any member equals cosine against the
    representative, and the member-level keep/drop rule reconstructs from
    (a) the group's internal cosine (identical vectors: every non-minimum
    id has the group minimum as a lower-id mate) and (b) the smallest
    representative id among qualifying cross-group mates — both computed
    on the distinct-vector relation only.

    ``k=None`` picks k = isqrt(N) from one corpus count — the
    sqrt-scaling deployment described above as an actual code path, so
    within-cluster pair work stays ~N^1.5 as the corpus grows (the
    oracle-gated query pins a FIXED k instead, because the replayed
    k-means chain must be knowable at SQL-generation time)."""
    if k is None:
        import math

        k = max(2, math.isqrt(max(int(corpus.count()), 1)))
    cents = _kmeans_train(corpus, k, iters, id_col, vec_col)
    c = corpus.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("v"))
    # persist the distinct-vector relation: it is referenced three times
    # (both threat-join sides + the member join-back) and the threat
    # join's broadcast build side leaves no exchange to reuse — uncached,
    # the groupBy AND the k x dim interpreted cell fold executed once per
    # reference (3 scan+aggregate copies in the measured plan; r13, guide
    # §2.4).  Released below once the survivor list materializes.
    d = (
        c.groupBy("v")
        .agg(F.min("vec_id").alias("rep"))
        .withColumn("cluster", F.expr(_kmeans_cell_sql("v", cents)))
        .withColumn("self_cos", cosine(F.col("v"), F.col("v")))
        .persist()
    )
    a, b = d.alias("a"), d.alias("b")
    # smallest lower-bound threat per distinct vector: any DIFFERENT
    # vector in the same cluster within tau drops every member id larger
    # than that vector's smallest member id
    threats = (
        a.join(
            b,
            (F.col("a.cluster") == F.col("b.cluster"))
            & (F.col("a.v") != F.col("b.v")),
        )
        .filter(cosine(F.col("a.v"), F.col("b.v")) >= tau)
        .groupBy(F.col("a.rep").alias("rep"))
        .agg(F.min(F.col("b.rep")).alias("thr"))
    )
    meta = d.join(threats, "rep", "left")
    result = (
        c.join(meta, "v")
        .filter(
            (F.col("thr").isNull() | (F.col("vec_id") < F.col("thr")))
            & (
                (F.col("vec_id") == F.col("rep"))
                | ~F.coalesce(F.col("self_cos") >= tau, F.lit(False))
            )
        )
        .select("vec_id", "cluster")
    )

    return cut_and_release(result, [d])


def semantic_dedup_oracle_sql(
    table: str, tau: float, k: int, iters: int, dim: int = 64
) -> str:
    """DuckDB twin of :func:`semantic_dedup`: the shared k-means CTE chain
    for the final assignment, then an anti-join against within-cluster
    pairs whose cosine (same fold order as the Spark side) clears tau."""
    return (
        _kmeans_cte_chain(table, k, iters, dim)
        + f""",
    asn AS (
      SELECT vec_id, cid AS cluster FROM (
        SELECT c.vec_id, cent.cid,
               row_number() OVER (
                 PARTITION BY c.vec_id
                 ORDER BY 0.5 * list_dot_product(cent.cv, cent.cv)
                            - list_dot_product(c.v, cent.cv) ASC,
                          cent.cid ASC
               ) AS rn
        FROM c CROSS JOIN cent{iters} cent
      ) WHERE rn = 1
    ),
    cl AS (SELECT c.vec_id, c.v, a.cluster FROM c JOIN asn a USING (vec_id))
    SELECT a.vec_id, CAST(a.cluster AS BIGINT) AS cluster
    FROM cl a
    WHERE NOT EXISTS (
      SELECT 1 FROM cl b
      WHERE b.cluster = a.cluster AND b.vec_id < a.vec_id
        AND list_dot_product(a.v, b.v)
              / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))
            >= {tau}
    )
    """
    )


def gram_matrix(
    df: DataFrame, dim: int = 64, vec_col: str = "embedding"
) -> DataFrame:
    """Upper-triangular Gram matrix ``X^T X`` of the embedding column in
    long form (i, j, gram), i <= j — the one aggregation behind PCA /
    whitening / covariance of an embedding corpus (the eigendecomposition
    itself is a dim x dim driver-side step on this table's output).

    Shape at scale: each row narrowly expands to its outer-product cells
    (posexplode + a per-row slice, upper triangle only), and map-side
    partial aggregation collapses them to <= dim*(dim+1)/2 cells per
    partition BEFORE the one tiny shuffle — the embedding data itself
    never moves, the shuffle carries ~2k cells per partition regardless
    of corpus size.  Products are quantized with the repo's floor-1e6
    protocol so the sums are exact BIGINTs (identical in both engines);
    short (ragged) vectors simply contribute no cells past their length,
    matching the oracle's null-skipping sum."""
    e = df.select(F.posexplode(F.col(vec_col)).alias("i", "xi"), F.col(vec_col).alias("v"))
    cells = e.select(
        "i",
        "xi",
        F.posexplode(
            F.slice(F.col("v"), F.col("i") + 1, F.lit(dim) - F.col("i"))
        ).alias("dj", "xj"),
    )
    q = F.floor(
        F.col("xi").cast("double") * F.col("xj").cast("double") * 1000000
        + F.lit(0.5)
    ).cast("long")
    return (
        cells.select(
            F.col("i").cast("long").alias("i"),
            (F.col("i") + F.col("dj")).cast("long").alias("j"),
            q.alias("__q"),
        )
        .groupBy("i", "j")
        .agg(F.sum("__q").alias("__qsum"))
        .select(
            "i",
            "j",
            (F.col("__qsum").cast("double") / 1000000.0).alias("gram"),
        )
    )


def gram_matrix_oracle_sql(table: str, dim: int = 64) -> str:
    """DuckDB twin of :func:`gram_matrix` (1-based list indexing shifted
    back to the 0-based posexplode positions; null products — cells past
    a short vector's length — drop out of the sum on both sides)."""
    return f"""
    WITH base AS (SELECT CAST(embedding AS DOUBLE[]) AS v FROM {table})
    SELECT CAST(i - 1 AS BIGINT) AS i,
           CAST(j - 1 AS BIGINT) AS j,
           CAST(sum(CAST(floor(v[CAST(i AS INT)] * v[CAST(j AS INT)] * 1000000 + 0.5) AS BIGINT)) AS DOUBLE)
             / 1000000.0 AS gram
    FROM base
    CROSS JOIN (SELECT unnest(range(1, {dim + 1})) AS i) a
    CROSS JOIN (SELECT unnest(range(1, {dim + 1})) AS j) b
    WHERE j >= i
    GROUP BY 1, 2
    """


def centroid_distances(
    df: DataFrame,
    dim: int = 64,
    label_col: str = "label",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Squared distance of every vector to its OWN label's centroid —
    the embedding-space outlier signal (mislabeled / off-distribution
    vectors sit far from their class mean).

    Exactness: centroids are the label_centroids quantized-mean rationals;
    each per-dimension squared difference is quantized to an integer at
    1e-9 BEFORE the sum, so the per-vector distance is an exact integer
    sum — order-independent across partitions (a double SUM over shuffled
    rows is not).  Emits (id, label, dist2q) with dist2 = dist2q/1e9.

    Shape at scale: the centroid relation is |labels| x dim rows and
    BROADCASTS; the corpus contributes one posexplode (narrow) and one
    (id) partial-sum shuffle — embeddings never move whole."""
    cents = label_centroids(df, dim, label_col, vec_col)
    e = df.select(
        F.col(id_col).cast("long").alias("id"),
        F.col(label_col).cast("long").alias("label"),
        F.posexplode(F.col(vec_col)).alias("dim", "val"),
    ).withColumn("dim", F.col("dim").cast("long"))
    diff = F.col("val").cast("double") - F.col("centroid")
    q = F.floor(diff * diff * 1000000000 + F.lit(0.5)).cast("long")
    return (
        e.join(F.broadcast(cents), ["label", "dim"])
        .groupBy("id", "label")
        .agg(F.sum(q).alias("dist2q"))
    )


def _label_centroid_cte(table: str, dim: int) -> str:
    "Shared oracle CTE: the quantized-mean label centroids in long form."
    return f"""
      SELECT CAST(label AS BIGINT) AS label,
             CAST(i - 1 AS BIGINT) AS dim,
             CAST(sum(CAST(floor(CAST(embedding[CAST(i AS INT)] AS DOUBLE) * 1000000 + 0.5) AS BIGINT)) AS DOUBLE)
               / count(embedding[CAST(i AS INT)]) / 1000000.0 AS centroid
      FROM {table}
      CROSS JOIN (SELECT unnest(range(1, {dim + 1})) AS i) idx
      GROUP BY 1, 2
    """


def centroid_outliers_oracle_sql(
    table: str, threshold_q: int, dim: int = 64
) -> str:
    """DuckDB twin of the outlier query built on centroid_distances."""
    return f"""
    WITH cents AS ({_label_centroid_cte(table, dim)}),
    e AS (
      SELECT CAST(vec_id AS BIGINT) AS id, CAST(label AS BIGINT) AS label,
             CAST(i - 1 AS BIGINT) AS dim,
             CAST(embedding[CAST(i AS INT)] AS DOUBLE) AS val
      FROM {table}
      CROSS JOIN (SELECT unnest(range(1, {dim + 1})) AS i) idx
    ),
    d AS (
      SELECT e.id, e.label,
             SUM(CAST(floor((e.val - c.centroid) * (e.val - c.centroid) * 1000000000 + 0.5) AS BIGINT)) AS dist2q
      FROM e JOIN cents c ON c.label = e.label AND c.dim = e.dim
      GROUP BY 1, 2
    )
    SELECT id AS vec_id, label,
           CAST(dist2q AS DOUBLE) / 1e9 AS dist2,
           dist2q > {threshold_q} AS is_outlier
    FROM d
    """


def nearest_centroid(
    df: DataFrame,
    dim: int = 64,
    label_col: str = "label",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Nearest-centroid classification: assign each vector to the closest
    label centroid (quantized-integer distances, ties to the lower
    label) and report it against the true label — the standard embedding
    sanity eval (how separable are the classes their own means?).

    Shape: the |labels| x dim centroid relation broadcasts; the exploded
    corpus joins per dimension, aggregates (id, candidate-label) partial
    sums map-side, and a per-id min_by picks the winner — rows x labels
    intermediate, which is the inherent cost of exact nearest-centroid
    with a handful of labels."""
    cents = label_centroids(df, dim, label_col, vec_col).select(
        F.col("label").alias("clabel"), "dim", "centroid"
    )
    e = df.select(
        F.col(id_col).cast("long").alias("id"),
        F.col(label_col).cast("long").alias("true_label"),
        F.posexplode(F.col(vec_col)).alias("dim", "val"),
    ).withColumn("dim", F.col("dim").cast("long"))
    diff = F.col("val").cast("double") - F.col("centroid")
    q = F.floor(diff * diff * 1000000000 + F.lit(0.5)).cast("long")
    per_cand = (
        e.join(F.broadcast(cents), "dim")
        .groupBy("id", "true_label", "clabel")
        .agg(F.sum(q).alias("d2q"))
    )
    best = per_cand.groupBy("id", "true_label").agg(
        F.min(F.struct("d2q", "clabel")).alias("__best__")
    )
    return best.select(
        F.col("id").alias(id_col),
        F.col("true_label").alias("label"),
        F.col("__best__.clabel").alias("pred_label"),
        (F.col("__best__.clabel") == F.col("true_label")).alias("correct"),
    )


def nearest_centroid_oracle_sql(table: str, dim: int = 64) -> str:
    """DuckDB twin of :func:`nearest_centroid` — same quantized distances,
    same (distance, label) tie-break."""
    return f"""
    WITH cents AS ({_label_centroid_cte(table, dim)}),
    e AS (
      SELECT CAST(vec_id AS BIGINT) AS id, CAST(label AS BIGINT) AS true_label,
             CAST(i - 1 AS BIGINT) AS dim,
             CAST(embedding[CAST(i AS INT)] AS DOUBLE) AS val
      FROM {table}
      CROSS JOIN (SELECT unnest(range(1, {dim + 1})) AS i) idx
    ),
    per_cand AS (
      SELECT e.id, e.true_label, c.label AS clabel,
             SUM(CAST(floor((e.val - c.centroid) * (e.val - c.centroid) * 1000000000 + 0.5) AS BIGINT)) AS d2q
      FROM e JOIN cents c ON c.dim = e.dim
      GROUP BY 1, 2, 3
    ),
    ranked AS (
      SELECT id, true_label, clabel, d2q,
             row_number() OVER (PARTITION BY id ORDER BY d2q ASC, clabel ASC) AS rn
      FROM per_cand
    )
    SELECT id AS vec_id, true_label AS label, clabel AS pred_label,
           clabel = true_label AS correct
    FROM ranked WHERE rn = 1
    """


# ----------------------------------------------------------------------- PCA


def pca_fit(
    df: DataFrame, k: int = 2, dim: int = 64, vec_col: str = "embedding"
) -> tuple[list[list[float]], list[float]]:
    """Fit the top-``k`` principal components of the embedding corpus.

    Two distributed aggregations feed a driver-side dim x dim
    eigendecomposition — the standard big-data PCA split (Spark MLlib's
    RowMatrix.computePrincipalComponents does the same): the corpus never
    leaves the executors, only the O(dim^2) Gram matrix and the O(dim)
    mean vector come back, and numpy.linalg.eigh runs on a 64x64 array no
    matter whether the corpus is 60 k or 100 TB rows.

    Sign convention: each component is flipped so its
    largest-absolute-value coordinate is positive (eigh's sign is
    arbitrary; this pins a deterministic output).

    Ragged (shorter-than-dim) vectors are excluded — covariance over
    mixed-length vectors is undefined.  Longer-than-dim vectors are
    truncated to the first ``dim`` coordinates, matching pca_project's
    ``slice(1, dim)`` so fit and project agree on every input class.
    """
    import numpy as np

    full = df.filter(F.size(F.col(vec_col)) >= dim).select(
        F.slice(F.col(vec_col), 1, dim).alias("__v__")
    )
    # ONE corpus pass for both moments: the Gram cells (i, j>=0) and the
    # linear sums as sentinel cells (i, j=-1) flow through a single
    # map-side-combined aggregation and a single collect — the two-job
    # form (mean agg + gram agg) scans the corpus twice for no reason.
    # Same floor-1e6 exact-integer protocol as gram_matrix.
    e = full.select(
        F.posexplode(F.col("__v__")).alias("i", "xi"),
        F.col("__v__").alias("v"),
    )
    prod_cells = e.select(
        F.col("i").cast("long").alias("i"),
        F.posexplode(
            F.slice(F.col("v"), F.col("i") + 1, F.lit(dim) - F.col("i"))
        ).alias("dj", "xj"),
        F.col("xi"),
    ).select(
        "i",
        (F.col("i") + F.col("dj")).cast("long").alias("j"),
        F.floor(
            F.col("xi").cast("double") * F.col("xj").cast("double") * 1000000
            + F.lit(0.5)
        )
        .cast("long")
        .alias("q"),
    )
    lin_cells = e.select(
        F.col("i").cast("long").alias("i"),
        F.lit(-1).cast("long").alias("j"),
        F.floor(F.col("xi").cast("double") * 1000000 + F.lit(0.5))
        .cast("long")
        .alias("q"),
    )
    cells = (
        prod_cells.unionByName(lin_cells)
        .groupBy("i", "j")
        .agg(F.sum("q").alias("qsum"), F.count(F.lit(1)).alias("n"))
        .collect()
    )
    n = next((r["n"] for r in cells if r["j"] == -1), 0)
    if n < 2:
        raise ValueError("pca_fit needs at least 2 full-length vectors")
    mu = np.zeros(dim)
    g = np.zeros((dim, dim))
    for r in cells:
        if r["j"] == -1:
            mu[int(r["i"])] = (r["qsum"] / 1000000.0) / r["n"]
        else:
            g[int(r["i"]), int(r["j"])] = r["qsum"] / 1000000.0
            g[int(r["j"]), int(r["i"])] = r["qsum"] / 1000000.0
    cov = (g - n * np.outer(mu, mu)) / (n - 1)
    vals, vecs = np.linalg.eigh(cov)
    comps = []
    for c in range(1, k + 1):
        v = vecs[:, -c]
        if v[int(np.argmax(np.abs(v)))] < 0:
            v = -v
        comps.append([float(x) for x in v])
    return comps, [float(x) for x in mu]


def pca_project(
    df: DataFrame,
    k: int = 2,
    dim: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Project each embedding onto the fitted top-``k`` components
    (mean-centering folds into a constant offset per component, so the
    projection is a single literal-array dot per row — zero-shuffle,
    whole-stage-codegen narrow map, like :func:`quantize_embeddings`).

    Output: (id_col, pc1..pck), rounded to 4 decimals.  No DuckDB oracle:
    the loadings come from a driver-side eigendecomposition — the gate
    runs the weaker rows-only check and the semantics are pinned by a
    pytest against numpy.linalg.svd on the collected corpus."""
    comps, mu = pca_fit(df, k, dim, vec_col)
    full = df.filter(F.size(F.col(vec_col)) >= dim)
    cols = [F.col(id_col)]
    for c, coords in enumerate(comps, start=1):
        lit_vec = F.array(*[F.lit(x) for x in coords])
        proj = dot(F.slice(F.col(vec_col), 1, dim), lit_vec)
        # mean-centering folds into one constant per component:
        # (v - mu) . e  ==  v . e - mu . e
        offset = sum(m * x for m, x in zip(mu, coords))
        cols.append((F.round(proj - F.lit(offset), 4)).alias(f"pc{c}"))
    return full.select(*cols)


# -------------------------------------------------- product quantization ANN


def _pq_codebooks(
    corpus: DataFrame, m: int, ks: int, dim: int, id_col: str, vec_col: str,
    rows=None,
) -> list[list[tuple[int, list[float], float]]]:
    """Deterministic PQ codebooks: subspace j's codebook is the j-th
    sub-slice of the ``ks`` lowest-id vectors (codes 0..ks-1 in id
    order) — the same no-Lloyd quantizer convention as IVF's
    _centroid_literals, so the DuckDB oracle can rebuild the codebooks
    exactly.  Production PQ would k-means each subspace; every
    partition/shuffle property downstream is identical.  Returns per
    subspace a list of (code, coords, half_sq) triples compatible with
    _kmeans_cell_sql.  ``rows`` shares a :func:`_lowest_rows` collect
    with the other build artifacts."""
    d_sub = dim // m
    if rows is None:
        rows = _lowest_rows(corpus, ks, id_col, vec_col)
    rows = rows[:ks]
    books = []
    for j in range(m):
        cells = []
        for code, r in enumerate(rows):
            coords = [float(x) for x in r["v"]][j * d_sub : (j + 1) * d_sub]
            cells.append((code, coords, _half_sq(coords)))
        books.append(cells)
    return books


def _pq_cell_sql(
    vec_name: str, cells: list[tuple[int, list[float], float]], d_sub: int
) -> str:
    """Argmin sub-centroid as ONE transform lambda over a 2D literal
    array (cell layout: [half_sq, c0..c{d-1}]), instead of
    _kmeans_cell_sql's per-cell named_struct folds: expression size — and
    Catalyst analysis time — stays O(1) in the codebook size, which is
    what lets PQ run ks=64 codebooks where the per-cell form costs
    seconds of planning.  ``array_position(scores, array_min(scores))``
    returns the FIRST minimum, i.e. ties break to the lower code —
    identical to the oracle's (score ASC, code ASC) rank.  Cells must be
    passed in ascending code order."""
    arrs = ", ".join(
        "array(" + ", ".join([_dlit(hs)] + [_dlit(c) for c in coords]) + ")"
        for _, coords, hs in cells
    )
    scores = (
        f"transform(array({arrs}), c -> element_at(c, 1) - "
        f"aggregate(zip_with(`{vec_name}`, slice(c, 2, {d_sub}), "
        "(x, y) -> CAST(x AS DOUBLE) * y), CAST(0 AS DOUBLE), (acc, x) -> acc + x))"
    )
    return f"CAST(array_position({scores}, array_min({scores})) - 1 AS BIGINT)"


def _pq_codebooks_trained(
    corpus: DataFrame,
    m: int,
    ks: int,
    dim: int,
    iters: int,
    id_col: str,
    vec_col: str,
) -> list[list[tuple[int, list[float], float]]]:
    """Lloyd-trained PQ codebooks: per subspace, the shared deterministic
    k-means loop (_kmeans_train) runs on the sub-sliced corpus — the
    training step real PQ indexes use when quantization error matters.
    Measured recall@5 on the 500-vector test corpus: at ks=16 training
    HELPS (0.32 trained vs 0.20 untrained); at ks=64 it HURTS (0.28 vs
    0.36) — Lloyd merges codewords when ks approaches the per-subspace
    cluster structure of a small corpus, while 64 distinct data-point
    codewords keep more resolution.  That crossover is why the gate uses
    untrained ks=64 and this stays an option: pick by measurement, per
    corpus.  All m subspaces train TOGETHER: each Lloyd iteration is ONE
    job that assigns every subspace's cell (m argmin expressions over the
    sliced vector, no join) and aggregates the (j, cluster, dim) means in
    a single m*ks*d_sub-group shuffle — the same exact integer qsum/count
    arithmetic as the per-subspace ``_kmeans_train`` loop (which this
    replaces; it cost m*iters separate jobs), so the unrolled oracle
    replay is unchanged."""
    d_sub = dim // m
    seed_rows = (
        corpus.select(F.col(id_col).alias("i"), F.col(vec_col).alias("v"))
        .orderBy("i")
        .limit(ks)
        .collect()
    )
    books: list[list[tuple[int, list[float], float]]] = []
    for j in range(m):
        cells = []
        for code, r in enumerate(seed_rows):
            coords = [float(x) for x in r["v"]][j * d_sub : (j + 1) * d_sub]
            cells.append((code, coords, _half_sq(coords)))
        books.append(cells)

    base = corpus.select(
        F.col(id_col).alias("__pid__"),
        *[
            F.slice(F.col(vec_col), j * d_sub + 1, d_sub).alias(f"__sv{j}__")
            for j in range(m)
        ],
    )
    for _ in range(iters):
        assigned = base.select(
            *[
                F.struct(
                    F.lit(j).alias("j"),
                    F.expr(
                        _kmeans_cell_sql(f"__sv{j}__", books[j])
                    ).alias("cluster"),
                    F.col(f"__sv{j}__").alias("sv"),
                ).alias(f"__a{j}__")
                for j in range(m)
            ]
        )
        stacked = assigned.select(
            F.explode(F.array(*[f"__a{j}__" for j in range(m)])).alias("a")
        ).select(
            F.col("a.j").alias("j"),
            F.col("a.cluster").alias("cluster"),
            F.posexplode("a.sv").alias("dim", "val"),
        )
        cells = (
            stacked.groupBy("j", "cluster", "dim")
            .agg(
                F.sum(
                    F.floor(F.col("val").cast("double") * 1000000 + F.lit(0.5))
                    .cast("long")
                ).alias("qsum"),
                F.count(F.lit(1)).alias("n"),
            )
            .collect()
        )
        per_j: dict[int, dict[int, dict[int, float]]] = {}
        for r in cells:
            per_j.setdefault(r["j"], {}).setdefault(r["cluster"], {})[
                r["dim"]
            ] = r["qsum"] / r["n"] / 1000000.0
        books = []
        for j in range(m):
            by_cid = per_j.get(j, {})
            new_cells = []
            for cid in sorted(by_cid):
                coords = [by_cid[cid][d] for d in range(len(by_cid[cid]))]
                new_cells.append((cid, coords, _half_sq(coords)))
            books.append(new_cells)
    return books


def pq_encode(
    corpus: DataFrame,
    books: list[list[tuple[int, list[float], float]]],
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """PQ encoding: each vector compresses to ``m`` one-byte-ish codes —
    the 100 TB move that shrinks a 64-float embedding to m bytes so the
    whole index fits in memory.  A pure NARROW map (Arrow-vectorized
    per-subspace argmin, bit-identical to the _pq_cell_sql expression
    form — see the inline note); no join, no shuffle.  Returns
    (corpus_id, code0..code{m-1})."""
    m = len(books)
    d_sub = dim // m
    # Arrow-vectorized argmin (r13, guide §4.2): the _pq_cell_sql
    # expression form evaluated m x ks x d_sub interpreted HOF
    # multiply-adds PER ROW (4096 at m=8, ks=64 — measured 6.7 s for a
    # 2000-row encode).  The numpy replay is bit-identical: per
    # subspace, the dot folds left-to-right over the dims (one
    # IEEE-rounded add each, the JVM aggregate() order), score =
    # half_sq - dot with the same literal doubles, and np.argmin takes
    # the FIRST minimum exactly like array_position(scores,
    # array_min(scores)).  Still a pure narrow map — no join, no
    # shuffle, same scale shape.
    hs = [[cell[2] for cell in books[j]] for j in range(m)]
    cbs = [[cell[1] for cell in books[j]] for j in range(m)]
    c = corpus.select(
        F.col(id_col).alias("corpus_id"), F.col(vec_col).alias("__v")
    )
    schema = "corpus_id long, " + ", ".join(
        f"code{j} long" for j in range(m)
    )

    def encode(batches):
        import numpy as np
        import pandas as pd

        CB = [np.asarray(cbs[j], dtype=np.float64) for j in range(m)]
        HS = [np.asarray(hs[j], dtype=np.float64) for j in range(m)]
        for pdf in batches:
            if not len(pdf):
                continue
            ci = pdf["corpus_id"].to_numpy(dtype=np.int64)
            V = np.stack(
                [np.asarray(x, dtype=np.float32) for x in pdf["__v"]]
            ).astype(np.float64)
            out = {"corpus_id": ci}
            for j in range(m):
                sub = V[:, j * d_sub : (j + 1) * d_sub]
                dotv = np.zeros((len(ci), CB[j].shape[0]))
                for t in range(d_sub):
                    dotv += sub[:, t, None] * CB[j][None, :, t]
                scores = HS[j][None, :] - dotv
                out[f"code{j}"] = np.argmin(scores, axis=1).astype(np.int64)
            yield pd.DataFrame(out)

    return c.mapInPandas(encode, schema)


def ann_pq(
    corpus: DataFrame,
    queries: DataFrame,
    m: int = 8,
    ks: int = 16,
    k: int = 5,
    dim: int = 64,
    train_iters: int = 0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Product-quantization ANN (Jegou et al. 2011, "Product Quantization
    for Nearest Neighbor Search"): corpus vectors encode to m sub-space
    codes; each query scores candidates by ADC — the asymmetric distance
    sum_j ||q_j - codebook_j[code_j]||^2 — via a per-subspace lookup
    table instead of touching the original floats.

    Scale shape: encoding is a narrow map over the corpus (the index
    build; at 100 TB the m-byte codes are what you persist and scan);
    queries broadcast; per-subspace distances are element_at lookups
    into per-query tables riding the broadcast as an array column, so
    scoring runs inside whole-stage codegen with zero joins beyond the
    broadcast.

    Determinism: per-subspace distances quantize to BIGINT at 1e-9
    before summing (order-independent integer adds), ranking ties break
    on the lower corpus id, and the codebooks are the lowest-id vectors'
    sub-slices — all mirrored exactly by the DuckDB oracle.  Returns
    (query_id, corpus_id, rank, qdist) with qdist the quantized ADC
    distance."""
    d_sub = dim // m
    if train_iters:
        books = _pq_codebooks_trained(
            corpus, m, ks, dim, train_iters, id_col, vec_col
        )
    else:
        books = _pq_codebooks(corpus, m, ks, dim, id_col, vec_col)
    codes = pq_encode(corpus, books, dim, id_col, vec_col)
    # ADC lookup tables: ||q_j - cb_j[c]||^2 for every (query, subspace,
    # code), quantized to BIGINT at 1e-9.  Computed DRIVER-SIDE from the
    # collected query vectors — the per-query LUT build real PQ engines
    # do at query time (queries are serving-sized by definition; this is
    # the same legitimate collect as IVF's centroid build).  Scoring is
    # codegen'd integer element_at lookups, no per-cell dot folds.
    # Arithmetic is the exact left-fold + ((qq - 2*qc) + cc) order the
    # oracle's list_dot_product replay uses, so the quantized values
    # agree bit-for-bit.
    qrows = queries.select(
        F.col(id_col).alias("i"), F.col(vec_col).alias("v")
    ).collect()

    def _fold_dot(a: list[float], b: list[float]) -> float:
        acc = 0.0
        for x, y in zip(a, b):
            acc += x * y
        return acc

    import math

    luts: list[dict[int, list[int]]] = []  # per subspace: query_id -> [dq]
    for j in range(m):
        per_q: dict[int, list[int]] = {}
        for r in qrows:
            qv = [float(x) for x in r["v"]][j * d_sub : (j + 1) * d_sub]
            qq = _fold_dot(qv, qv)
            cells = []
            for _, coords, half_sq in books[j]:
                d = qq - 2 * _fold_dot(qv, coords) + 2.0 * half_sq
                cells.append(int(math.floor(d * 1000000000 + 0.5)))
            per_q[int(r["i"])] = cells
        luts.append(per_q)
    qids = sorted(luts[0]) if luts and luts[0] else []
    # The LUT travels as a BROADCAST COLUMN, not as literals (r13, guide
    # §5.2): the literal form inlined |queries| x ks x m BIGINTs into the
    # scoring expression (51k literal nodes at ks=64) — megabytes of SQL
    # to parse, an analysis/constant-folding walk over the whole table,
    # and a codegen'd class big enough to spill out of JIT caches
    # (measured: 4.7 s vs 22 s run-to-run jitter on identical plans).
    # The values are unchanged (same driver-side fold, same BIGINTs);
    # only the transport is a 100-row broadcast instead of the plan tree.
    lut_df = queries.sparkSession.createDataFrame(
        [(int(qid), [luts[j][qid] for j in range(m)]) for qid in qids],
        "query_id long, __lut__ array<array<bigint>>",
    )
    joined = codes.crossJoin(F.broadcast(lut_df)).filter(
        F.col("query_id") != F.col("corpus_id")
    )
    qdist = None
    for j in range(m):
        term = F.element_at(
            F.element_at(F.col("__lut__"), j + 1),
            F.col(f"code{j}").cast("int") + 1,
        )
        qdist = term if qdist is None else qdist + term
    sims = joined.select("query_id", "corpus_id", qdist.alias("qdist"))
    # two-phase exact top-k per query, ascending distance (the mirror of
    # _topk_per_query's descending-cosine form)
    keyed = sims.select(
        "query_id",
        F.struct(
            F.col("qdist").alias("qdist"), F.col("corpus_id").alias("corpus_id")
        ).alias("sk"),
        F.spark_partition_id().alias("pid"),
    )
    partial = keyed.groupBy("query_id", "pid").agg(
        F.slice(F.sort_array(F.collect_list("sk"), asc=True), 1, k).alias("top")
    )
    merged = partial.groupBy("query_id").agg(
        F.slice(
            F.sort_array(F.flatten(F.collect_list("top")), asc=True), 1, k
        ).alias("top")
    )
    return merged.select(
        "query_id", F.posexplode("top").alias("pos", "sk")
    ).select(
        "query_id",
        F.col("sk.corpus_id").alias("corpus_id"),
        (F.col("pos") + 1).cast("long").alias("rank"),
        F.col("sk.qdist").alias("qdist"),
    )


def _pq_replay_ctes(table: str, m: int, ks: int, k: int, n_queries: int, dim: int) -> str:
    """Shared DuckDB CTE chain rebuilding the PQ index and the per-pair
    quantized ADC distances (used by the topk oracle and the recall
    oracle)."""
    d_sub = dim // m
    return f"""
    js AS (SELECT unnest(range(0, {m})) AS j),
    cb AS (
      SELECT row_number() OVER (ORDER BY vec_id) - 1 AS code,
             CAST(embedding AS DOUBLE[]) AS cv
      FROM (SELECT * FROM {table} ORDER BY vec_id LIMIT {ks})
    ),
    subs AS (
      SELECT code, j, list_slice(cv, j * {d_sub} + 1, j * {d_sub} + {d_sub}) AS scv
      FROM cb CROSS JOIN js
    ),
    c AS (SELECT vec_id AS corpus_id, CAST(embedding AS DOUBLE[]) AS v FROM {table}),
    csub AS (
      SELECT corpus_id, j, list_slice(v, j * {d_sub} + 1, j * {d_sub} + {d_sub}) AS sv
      FROM c CROSS JOIN js
    ),
    enc AS (
      SELECT corpus_id, j, code FROM (
        SELECT corpus_id, cs.j, s.code,
               row_number() OVER (
                 PARTITION BY corpus_id, cs.j
                 ORDER BY 0.5 * list_dot_product(s.scv, s.scv)
                            - list_dot_product(cs.sv, s.scv) ASC,
                          s.code ASC
               ) AS rn
        FROM csub cs JOIN subs s ON cs.j = s.j
      ) WHERE rn = 1
    ),
    q AS (
      SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
      FROM {table} ORDER BY vec_id LIMIT {n_queries}
    ),
    qsub AS (
      SELECT query_id, j, list_slice(qv, j * {d_sub} + 1, j * {d_sub} + {d_sub}) AS sq
      FROM q CROSS JOIN js
    ),
    pair_d AS (
      SELECT qs.query_id, e.corpus_id,
             CAST(sum(CAST(floor(
               (list_dot_product(qs.sq, qs.sq)
                - 2 * list_dot_product(qs.sq, s.scv)
                + list_dot_product(s.scv, s.scv)) * 1000000000 + 0.5
             ) AS BIGINT)) AS BIGINT) AS qdist
      FROM qsub qs
      JOIN enc e ON qs.j = e.j
      JOIN subs s ON s.j = e.j AND s.code = e.code
      WHERE qs.query_id <> e.corpus_id
      GROUP BY 1, 2
    ),
    pq_ranked AS (
      SELECT query_id, corpus_id, qdist,
             row_number() OVER (
               PARTITION BY query_id ORDER BY qdist ASC, corpus_id ASC
             ) AS rank
      FROM pair_d
    )"""


def ann_pq_oracle_sql(
    table: str, m: int, ks: int, k: int, n_queries: int, dim: int = 64
) -> str:
    "DuckDB twin of :func:`ann_pq`: full index + ADC replay."
    return (
        "WITH" + _pq_replay_ctes(table, m, ks, k, n_queries, dim)
        + f"""
    SELECT query_id, corpus_id, CAST(rank AS BIGINT) AS rank, qdist
    FROM pq_ranked WHERE rank <= {k}
    ORDER BY query_id, rank
    """
    )


def l2_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k EUCLIDEAN neighbors (the ground truth PQ's ADC
    approximates): quantized squared L2, ascending, ties on lower corpus
    id.  Two-phase top-k shape as cosine_topk.

    Pair scoring is Arrow-vectorized (r13, guide §4.2): the old
    broadcast-join form evaluated THREE interpreted ``aggregate(zip_with)``
    folds per (corpus, query) pair — ~400 interpreted ops x |corpus| x
    |queries|, and it sat on the truth side of every *_recall gate.  The
    numpy replay is bit-identical: per pair, qq/qc/cc accumulate
    left-to-right over the dims (one IEEE-rounded add each, the JVM
    ``aggregate()`` order), then ``(qq - 2*qc) + cc`` in the old
    expression's association, then the same 1e-9 floor-quantize.  The
    query side is a serving-sized driver collect — the same legitimate
    collect the PQ/IVF query-side builds perform."""
    qrows = (
        queries.select(F.col(id_col).alias("i"), F.col(vec_col).alias("v"))
        .collect()
    )
    q_ids = [int(r["i"]) for r in qrows]
    q_vecs = [[float(x) for x in r["v"]] for r in qrows]
    c = corpus.select(F.col(id_col).alias("corpus_id"), F.col(vec_col).alias("cv"))

    def score(batches):
        import numpy as np
        import pandas as pd

        qi = np.asarray(q_ids, dtype=np.int64)
        Q = (
            np.asarray(q_vecs, dtype=np.float64)
            if q_vecs
            else np.zeros((0, 0))
        )
        nq = len(qi)
        qq = np.zeros(nq)
        for j in range(Q.shape[1]):
            qq += Q[:, j] * Q[:, j]
        for pdf in batches:
            if not len(pdf) or not nq:
                continue
            ci = pdf["corpus_id"].to_numpy(dtype=np.int64)
            C = np.stack(
                [np.asarray(x, dtype=np.float32) for x in pdf["cv"]]
            ).astype(np.float64)
            nb = len(ci)
            qc = np.zeros((nb, nq))
            cc = np.zeros(nb)
            for j in range(C.shape[1]):
                qc += C[:, j, None] * Q[None, :, j]
                cc += C[:, j] * C[:, j]
            d2 = (qq[None, :] - 2 * qc) + cc[:, None]
            qd = np.floor(d2 * 1000000000 + 0.5).astype(np.int64)
            keep = ci[:, None] != qi[None, :]
            bi, bj = np.nonzero(keep)
            yield pd.DataFrame(
                {
                    "query_id": qi[bj],
                    "corpus_id": ci[bi],
                    "qdist": qd[bi, bj],
                }
            )

    sims = c.mapInPandas(
        score, "query_id long, corpus_id long, qdist long"
    )
    keyed = sims.select(
        "query_id",
        F.struct(
            F.col("qdist").alias("qdist"), F.col("corpus_id").alias("corpus_id")
        ).alias("sk"),
        F.spark_partition_id().alias("pid"),
    )
    partial = keyed.groupBy("query_id", "pid").agg(
        F.slice(F.sort_array(F.collect_list("sk"), asc=True), 1, k).alias("top")
    )
    merged = partial.groupBy("query_id").agg(
        F.slice(
            F.sort_array(F.flatten(F.collect_list("top")), asc=True), 1, k
        ).alias("top")
    )
    return merged.select(
        "query_id", F.posexplode("top").alias("pos", "sk")
    ).select(
        "query_id",
        F.col("sk.corpus_id").alias("corpus_id"),
        (F.col("pos") + 1).cast("long").alias("rank"),
        F.col("sk.qdist").alias("qdist"),
    )


def l2_topk_oracle_sql(table: str, k: int, n_queries: int) -> str:
    "DuckDB twin of :func:`l2_topk`."
    return f"""
    WITH q AS (
      SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
      FROM {table} ORDER BY vec_id LIMIT {n_queries}
    ),
    c AS (SELECT vec_id AS corpus_id, CAST(embedding AS DOUBLE[]) AS cv FROM {table}),
    d AS (
      SELECT query_id, corpus_id,
             CAST(floor((list_dot_product(qv, qv) - 2 * list_dot_product(qv, cv)
                         + list_dot_product(cv, cv)) * 1000000000 + 0.5)
                  AS BIGINT) AS qdist
      FROM q CROSS JOIN c WHERE query_id <> corpus_id
    ),
    r AS (
      SELECT query_id, corpus_id, qdist,
             row_number() OVER (
               PARTITION BY query_id ORDER BY qdist ASC, corpus_id ASC
             ) AS rank
      FROM d
    )
    SELECT query_id, corpus_id, CAST(rank AS BIGINT) AS rank, qdist
    FROM r WHERE rank <= {k}
    ORDER BY query_id, rank
    """


def ann_pq_recall_oracle_sql(
    table: str, m: int, ks: int, k: int, n_queries: int, dim: int = 64
) -> str:
    """DuckDB twin of the PQ recall gate: exact-L2 top-k as truth, PQ ADC
    top-k as the approximation, one (n_exact, n_hit, recall_at_k) row."""
    return (
        "WITH" + _pq_replay_ctes(table, m, ks, k, n_queries, dim)
        + f""",
    exact AS (
      SELECT query_id, corpus_id FROM (
        SELECT p.query_id, p.corpus_id,
               row_number() OVER (
                 PARTITION BY p.query_id
                 ORDER BY CAST(floor((list_dot_product(q.qv, q.qv)
                     - 2 * list_dot_product(q.qv, c.v)
                     + list_dot_product(c.v, c.v)) * 1000000000 + 0.5) AS BIGINT)
                   ASC, p.corpus_id ASC
               ) AS rn
        FROM (SELECT DISTINCT query_id, corpus_id
              FROM pair_d) p
        JOIN q ON p.query_id = q.query_id
        JOIN c ON p.corpus_id = c.corpus_id
      ) WHERE rn <= {k}
    ),
    approx AS (SELECT query_id, corpus_id FROM pq_ranked WHERE rank <= {k})
    SELECT CAST(count(*) AS BIGINT) AS n_exact,
           CAST(sum(CASE WHEN a.corpus_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_hit,
           floor(CAST(sum(CASE WHEN a.corpus_id IS NOT NULL THEN 1 ELSE 0 END)
                      AS DOUBLE) / CAST(count(*) AS DOUBLE) * 10000 + 0.5)
             / 10000.0 AS recall_at_k
    FROM exact e
    LEFT JOIN approx a USING (query_id, corpus_id)
    """
    )


def _pq_trained_replay_ctes(
    table: str, m: int, ks: int, iters: int, n_queries: int, dim: int
) -> str:
    """DuckDB CTE chain rebuilding the LLOYD-TRAINED PQ index
    (:func:`_pq_codebooks_trained`): per subspace j, the same unrolled
    k-means chain as :func:`_kmeans_cte_chain` runs on the j-th vector
    slice — seed centroids are the ``ks`` lowest-id slices, each
    iteration reassigns by (0.5|c|^2 - v.c, cid ASC) and re-means with
    the floor-1e6 protocol, and clusters that lose every member drop out
    (``sorted(by_cid)`` on the Spark side == GROUP BY here).  The final
    positional code is the row number over surviving cids, matching
    pq_encode's first-minimum ``array_position`` tie-break, and the ADC
    distance quantizes at 1e-9 exactly like the driver-built LUTs."""
    d_sub = dim // m
    parts = [
        f"c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM {table})",
        f"""q AS (
      SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
      FROM {table} ORDER BY vec_id LIMIT {n_queries}
    )""",
    ]
    for j in range(m):
        lo, hi = j * d_sub + 1, j * d_sub + d_sub
        parts.append(
            f"sj{j} AS (SELECT vec_id, list_slice(v, {lo}, {hi}) AS v FROM c)"
        )
        parts.append(
            f"""cent0_{j} AS (
      SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v AS cv
      FROM (SELECT vec_id, v FROM sj{j} ORDER BY vec_id LIMIT {ks})
    )"""
        )
        for i in range(iters):
            parts.append(
                f"""a{i}_{j} AS (
      SELECT vec_id, cid AS cluster FROM (
        SELECT s.vec_id, cent.cid,
               row_number() OVER (
                 PARTITION BY s.vec_id
                 ORDER BY 0.5 * list_dot_product(cent.cv, cent.cv)
                            - list_dot_product(s.v, cent.cv) ASC,
                          cent.cid ASC
               ) AS rn
        FROM sj{j} s CROSS JOIN cent{i}_{j} cent
      ) WHERE rn = 1
    )"""
            )
            parts.append(
                f"""cent{i + 1}_{j} AS (
      SELECT cid, list(mu ORDER BY dim) AS cv FROM (
        SELECT a.cluster AS cid, i AS dim,
               CAST(sum(CAST(floor(s.v[CAST(i AS INT)] * 1000000 + 0.5) AS BIGINT)) AS DOUBLE)
                 / count(s.v[CAST(i AS INT)]) / 1000000.0 AS mu
        FROM sj{j} s JOIN a{i}_{j} a USING (vec_id)
        CROSS JOIN (SELECT unnest(range(1, {d_sub + 1})) AS i) idx
        GROUP BY 1, 2
      ) GROUP BY cid
    )"""
            )
        parts.append(
            f"""cb{j} AS (
      SELECT row_number() OVER (ORDER BY cid) - 1 AS code, cv
      FROM cent{iters}_{j}
    )"""
        )
        parts.append(
            f"""enc{j} AS (
      SELECT vec_id AS corpus_id, code FROM (
        SELECT s.vec_id, b.code,
               row_number() OVER (
                 PARTITION BY s.vec_id
                 ORDER BY 0.5 * list_dot_product(b.cv, b.cv)
                            - list_dot_product(s.v, b.cv) ASC,
                          b.code ASC
               ) AS rn
        FROM sj{j} s CROSS JOIN cb{j} b
      ) WHERE rn = 1
    )"""
        )
        parts.append(
            f"""pd{j} AS (
      SELECT qq.query_id, e.corpus_id,
             CAST(floor(
               (list_dot_product(sq, sq) - 2 * list_dot_product(sq, b.cv)
                + list_dot_product(b.cv, b.cv)) * 1000000000 + 0.5
             ) AS BIGINT) AS dq
      FROM (SELECT query_id, list_slice(qv, {lo}, {hi}) AS sq FROM q) qq
      CROSS JOIN enc{j} e
      JOIN cb{j} b USING (code)
      WHERE qq.query_id <> e.corpus_id
    )"""
        )
    union = "\n      UNION ALL ".join(
        f"SELECT * FROM pd{j}" for j in range(m)
    )
    parts.append(
        f"""pair_d AS (
      SELECT query_id, corpus_id, CAST(sum(dq) AS BIGINT) AS qdist
      FROM ({union})
      GROUP BY 1, 2
    )"""
    )
    parts.append(
        """pq_ranked AS (
      SELECT query_id, corpus_id, qdist,
             row_number() OVER (
               PARTITION BY query_id ORDER BY qdist ASC, corpus_id ASC
             ) AS rank
      FROM pair_d
    )"""
    )
    return "WITH " + ",\n    ".join(parts)


def ann_pq_trained_oracle_sql(
    table: str, m: int, ks: int, iters: int, k: int, n_queries: int, dim: int = 64
) -> str:
    "DuckDB twin of :func:`ann_pq` with ``train_iters=iters``."
    return (
        _pq_trained_replay_ctes(table, m, ks, iters, n_queries, dim)
        + f"""
    SELECT query_id, corpus_id, CAST(rank AS BIGINT) AS rank, qdist
    FROM pq_ranked WHERE rank <= {k}
    ORDER BY query_id, rank
    """
    )


def ann_pq_rerank(
    corpus: DataFrame,
    queries: DataFrame,
    m: int = 8,
    ks: int = 16,
    k: int = 5,
    shortlist: int = 50,
    dim: int = 64,
    train_iters: int = 0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """PQ ADC shortlist + exact re-rank (the deployment shape from Jegou
    et al. 2011 §V: the compressed index prunes to ``shortlist``
    candidates per query, then the ORIGINAL vectors of just those
    candidates are fetched for an exact distance re-rank to top-``k``).
    This is how PQ recall gets to production quality without ever
    scanning raw vectors corpus-wide: the raw-vector work is
    O(queries * shortlist), not O(queries * corpus).

    Scale shape: the shortlist inherits ann_pq's codegen'd integer-LUT
    scoring over the m-byte codes; the re-rank joins the (query, corpus)
    candidate pairs — a serving-sized relation — back to the corpus
    vectors on the id (broadcast of the candidate set against the corpus
    scan), so the original floats are touched only for candidates.
    Output: (query_id, corpus_id, rank, qdist) with qdist the exact
    quantized squared L2 (same protocol as :func:`l2_topk`, so the two
    agree on shared pairs)."""
    from pyspark.sql import Window

    cand = ann_pq(
        corpus, queries, m=m, ks=ks, k=shortlist, dim=dim,
        train_iters=train_iters, id_col=id_col, vec_col=vec_col,
    ).select("query_id", "corpus_id")
    c = corpus.select(F.col(id_col).alias("corpus_id"), F.col(vec_col).alias("cv"))
    qv = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"))
    d2 = dot(F.col("qv"), F.col("qv")) - 2 * dot(F.col("qv"), F.col("cv")) + dot(
        F.col("cv"), F.col("cv")
    )
    scored = (
        c.join(F.broadcast(cand), "corpus_id")
        .join(F.broadcast(qv), "query_id")
        .withColumn("qdist", F.floor(d2 * 1000000000 + F.lit(0.5)).cast("long"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.asc("qdist"), F.asc("corpus_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "corpus_id", "rank", "qdist")
    )


def ann_pq_rerank_oracle_sql(
    table: str,
    m: int,
    ks: int,
    k: int,
    shortlist: int,
    n_queries: int,
    dim: int = 64,
) -> str:
    "DuckDB twin of :func:`ann_pq_rerank` (untrained codebooks)."
    return (
        "WITH" + _pq_replay_ctes(table, m, ks, shortlist, n_queries, dim)
        + f""",
    cand AS (SELECT query_id, corpus_id FROM pq_ranked WHERE rank <= {shortlist}),
    rr AS (
      SELECT cand.query_id, cand.corpus_id,
             CAST(floor((list_dot_product(q.qv, q.qv)
                 - 2 * list_dot_product(q.qv, c.v)
                 + list_dot_product(c.v, c.v)) * 1000000000 + 0.5) AS BIGINT)
               AS qdist
      FROM cand
      JOIN q ON q.query_id = cand.query_id
      JOIN c ON c.corpus_id = cand.corpus_id
    )
    SELECT query_id, corpus_id, CAST(rank AS BIGINT) AS rank, qdist FROM (
      SELECT query_id, corpus_id, qdist,
             row_number() OVER (
               PARTITION BY query_id ORDER BY qdist ASC, corpus_id ASC
             ) AS rank
      FROM rr
    ) WHERE rank <= {k}
    ORDER BY query_id, rank
    """
    )


def ann_pq_rerank_recall_oracle_sql(
    table: str,
    m: int,
    ks: int,
    k: int,
    shortlist: int,
    n_queries: int,
    dim: int = 64,
) -> str:
    """DuckDB twin of the rerank recall gate: exact-L2 top-k truth vs the
    reranked PQ top-k, one (n_exact, n_hit, recall_at_k) row."""
    return (
        "WITH" + _pq_replay_ctes(table, m, ks, shortlist, n_queries, dim)
        + f""",
    cand AS (SELECT query_id, corpus_id FROM pq_ranked WHERE rank <= {shortlist}),
    rr AS (
      SELECT cand.query_id, cand.corpus_id,
             CAST(floor((list_dot_product(q.qv, q.qv)
                 - 2 * list_dot_product(q.qv, c.v)
                 + list_dot_product(c.v, c.v)) * 1000000000 + 0.5) AS BIGINT)
               AS qdist
      FROM cand
      JOIN q ON q.query_id = cand.query_id
      JOIN c ON c.corpus_id = cand.corpus_id
    ),
    approx AS (
      SELECT query_id, corpus_id FROM (
        SELECT query_id, corpus_id,
               row_number() OVER (
                 PARTITION BY query_id ORDER BY qdist ASC, corpus_id ASC
               ) AS rank
        FROM rr
      ) WHERE rank <= {k}
    ),
    exact AS (
      SELECT query_id, corpus_id FROM (
        SELECT q.query_id, c.corpus_id,
               row_number() OVER (
                 PARTITION BY q.query_id
                 ORDER BY CAST(floor((list_dot_product(q.qv, q.qv)
                     - 2 * list_dot_product(q.qv, c.v)
                     + list_dot_product(c.v, c.v)) * 1000000000 + 0.5) AS BIGINT)
                   ASC, c.corpus_id ASC
               ) AS rn
        FROM q CROSS JOIN c
        WHERE q.query_id <> c.corpus_id
      ) WHERE rn <= {k}
    )
    SELECT CAST(count(*) AS BIGINT) AS n_exact,
           CAST(sum(CASE WHEN a.corpus_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_hit,
           floor(CAST(sum(CASE WHEN a.corpus_id IS NOT NULL THEN 1 ELSE 0 END)
                      AS DOUBLE) / CAST(count(*) AS DOUBLE) * 10000 + 0.5)
             / 10000.0 AS recall_at_k
    FROM exact e
    LEFT JOIN approx a USING (query_id, corpus_id)
    """
    )


# -------------------------------------------- Johnson-Lindenstrauss projection


def _jl_rows(k: int, dim: int, seed: int) -> list[list[float]]:
    """Deterministic Achlioptas sign-projection rows: entry (j, i) is
    +-1/sqrt(k) by the sign of the shared LCG stream.  k=16 keeps the
    1/sqrt(k)=0.25 scale exactly representable, so the literals are
    bit-identical in both engines with no rounding step."""
    scale = 1.0 / (k ** 0.5)
    rows = []
    for j in range(k):
        signs = _lcg_floats(dim, seed + j * 7777)
        rows.append([scale if s >= 0 else -scale for s in signs])
    return rows


def jl_project(
    df: DataFrame,
    k: int = 16,
    dim: int = 64,
    seed: int = 97,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Johnson-Lindenstrauss random projection (Achlioptas 2003 sign
    variant): dim-d embeddings compress to k dims while approximately
    preserving pairwise distances — the cheap dimensionality cut before
    clustering/ANN when PCA's data-dependent fit is not wanted.

    A pure NARROW map: the k x dim sign matrix embeds as literals (same
    LCG stream both engines), each output coordinate is one fold, and
    values quantize at 1e-6 so the long-form output (vec_id, j, yq)
    hash-compares exactly.  No shuffle, no model state, no collect."""
    rows = _jl_rows(k, dim, seed)
    cols = [
        F.floor(
            F.expr(_dot_lit_sql(vec_col, rows[j])) * 1000000 + F.lit(0.5)
        )
        .cast("long")
        .alias(f"y{j}")
        for j in range(k)
    ]
    wide = df.select(F.col(id_col).alias("vec_id"), *cols)
    pairs = ", ".join(f"CAST({j} AS BIGINT), `y{j}`" for j in range(k))
    return wide.select(
        "vec_id",
        F.explode(F.expr(f"map({pairs})")).alias("j", "yq"),
    ).orderBy("vec_id", "j")


def jl_project_oracle_sql(
    table: str, k: int = 16, dim: int = 64, seed: int = 97
) -> str:
    "DuckDB twin of :func:`jl_project` (same literal rows, fold, floor)."
    rows = _jl_rows(k, dim, seed)
    selects = []
    for j in range(k):
        lits = "[" + ", ".join(repr(c) for c in rows[j]) + "]"
        selects.append(
            f"SELECT vec_id, CAST({j} AS BIGINT) AS j, "
            f"CAST(floor(list_dot_product(CAST(embedding AS DOUBLE[]), {lits}) "
            f"* 1000000 + 0.5) AS BIGINT) AS yq FROM {table}"
        )
    u = "\n      UNION ALL ".join(selects)
    return f"SELECT vec_id, j, yq FROM ({u}) ORDER BY vec_id, j"


# ------------------------------------------------------------------- IVF-PQ


def _ivfpq_encode_arrow(
    corpus: DataFrame,
    cents,
    books,
    dim: int,
    id_col: str,
    vec_col: str,
    residual: bool = False,
) -> DataFrame:
    """(corpus_id, cell, code0..code{m-1}) — Arrow-vectorized twin of the
    _cell_rank_sql + _pq_cell_sql expression chain shared by the IVF-PQ
    builds (r13, guide §4.2; bit-identical by the same argument as
    pq_encode's inline note).  Cell pick: ``cents`` arrive in ascending
    cid order (lowest-id prefix), so numpy's first-position argmin over
    ``-dot/nrm`` equals sort_array's (s ASC, cid ASC) head.  With
    ``residual=True`` the coded vector is v - centroid(cell), subtracted
    coordinate-wise exactly like the zip_with form.  Still one narrow
    pass, no join, no shuffle."""
    m = len(books)
    d_sub = dim // m
    cent_ids = [int(cid) for cid, _, _ in cents]
    cent_vecs = [cvec for _, cvec, _ in cents]
    cent_nrms = [nrm for _, _, nrm in cents]
    hs = [[cell[2] for cell in books[j]] for j in range(m)]
    cbs = [[cell[1] for cell in books[j]] for j in range(m)]
    c = corpus.select(
        F.col(id_col).alias("corpus_id"), F.col(vec_col).alias("__v")
    )
    schema = "corpus_id long, cell long, " + ", ".join(
        f"code{j} long" for j in range(m)
    )

    def encode(batches):
        import numpy as np
        import pandas as pd

        CID = np.asarray(cent_ids, dtype=np.int64)
        CV = np.asarray(cent_vecs, dtype=np.float64)
        NRM = np.asarray(cent_nrms, dtype=np.float64)
        CB = [np.asarray(cbs[j], dtype=np.float64) for j in range(m)]
        HS = [np.asarray(hs[j], dtype=np.float64) for j in range(m)]
        for pdf in batches:
            if not len(pdf):
                continue
            ci = pdf["corpus_id"].to_numpy(dtype=np.int64)
            V = np.stack(
                [np.asarray(x, dtype=np.float32) for x in pdf["__v"]]
            ).astype(np.float64)
            n = len(ci)
            dotc = np.zeros((n, len(CID)))
            for t in range(V.shape[1]):
                dotc += V[:, t, None] * CV[None, :, t]
            s = (-dotc) / NRM[None, :]
            cell_idx = np.argmin(s, axis=1)
            out = {"corpus_id": ci, "cell": CID[cell_idx]}
            W = V - CV[cell_idx] if residual else V
            for j in range(m):
                sub = W[:, j * d_sub : (j + 1) * d_sub]
                dotv = np.zeros((n, CB[j].shape[0]))
                for t in range(d_sub):
                    dotv += sub[:, t, None] * CB[j][None, :, t]
                scores = HS[j][None, :] - dotv
                out[f"code{j}"] = np.argmin(scores, axis=1).astype(np.int64)
            yield pd.DataFrame(out)

    return c.mapInPandas(encode, schema)


def ann_ivfpq(
    corpus: DataFrame,
    queries: DataFrame,
    n_centroids: int = 16,
    n_probe: int = 4,
    m: int = 8,
    ks: int = 16,
    k: int = 5,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-PQ composite ANN (Jegou et al. 2011 §V "IVFADC", in the
    no-residual form — faiss's ``by_residual=False`` variant, chosen so
    the codebooks stay rebuildable from the raw corpus and the DuckDB
    oracle can replay them without a residual pass): the coarse IVF
    quantizer prunes each query's candidate set to its ``n_probe``
    nearest cells, and PQ ADC scores ONLY those candidates from their
    m-byte codes.  This is the composition billion-vector indexes
    deploy: IVF bounds the SCAN (|corpus| * n_probe / n_centroids
    candidates per query on a balanced quantizer), PQ bounds the BYTES
    (m bytes per candidate, integer LUT adds — the raw floats are never
    touched at query time).

    Scale shape: the index build is one narrow projection over the
    corpus (cell argmax + m code argmins against literal centroids — no
    join, no shuffle; at 100 TB this is the relation you persist,
    partitioned by cell); queries contribute a broadcast
    (query_id, cell) relation of n_queries * n_probe rows plus per-query
    integer LUT literals, so scoring is a broadcast-hash equi-join ON
    CELL followed by codegen'd integer lookups — the corpus-wide cross
    join of plain ADC never happens.

    Determinism is the intersection of ann_ivf's and ann_pq's
    conventions: lowest-id centroids/codebooks, probe ties to the lower
    cell id, per-subspace distances quantized to BIGINT at 1e-9 before
    the order-independent integer sum, ranking ties to the lower corpus
    id.  Returns (query_id, corpus_id, rank, qdist).
    """
    import math

    d_sub = dim // m
    # one driver collect serves both build artifacts (both seed from the
    # lowest-id prefix) — one corpus limit-scan instead of two
    seed = _lowest_rows(corpus, max(n_centroids, ks), id_col, vec_col)
    cents = _centroid_literals(corpus, n_centroids, id_col, vec_col, rows=seed)
    books = _pq_codebooks(corpus, m, ks, dim, id_col, vec_col, rows=seed)

    codes = _ivfpq_encode_arrow(corpus, cents, books, dim, id_col, vec_col)

    return _ivfpq_score_codes(codes, queries, cents, books, n_probe, k,
                              dim, id_col, vec_col)


def _ivfpq_score_codes(
    codes: DataFrame,
    queries: DataFrame,
    cents,
    books,
    n_probe: int,
    k: int,
    dim: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """The query-side half of IVF-PQ, shared by the in-memory form
    (:func:`ann_ivfpq`) and the persisted-index form
    (:func:`ann_ivfpq_query_index`): probe cells + ADC LUTs from ONE
    driver collect of the serving-sized query set, broadcast
    (query_id, cell) join against the (corpus_id, cell, code*) relation,
    codegen'd integer lookups, two-phase top-k.  ``codes``'s cell join
    key is what partition pruning keys on when the index is persisted
    partitioned by cell."""
    import math

    m = len(books)
    d_sub = dim // m

    # ONE driver collect serves both query-side artifacts (probe cells
    # and ADC LUTs) — queries are serving-sized by definition, the same
    # legitimate collect as ann_pq's LUT build and ann_ivf's probing.
    qrows = queries.select(
        F.col(id_col).alias("i"), F.col(vec_col).alias("v")
    ).collect()

    def _fold_dot(a: list[float], b: list[float]) -> float:
        acc = 0.0
        for x, y in zip(a, b):
            acc += x * y
        return acc

    # probe cells per query: the same (-dot/|c|, cid) ascending ranking
    # _cell_rank_sql encodes, computed driver-side over the collected
    # query vectors (bit-identical fold + division order)
    probe_pairs: list[tuple[int, int]] = []
    for r in qrows:
        qv = [float(x) for x in r["v"]]
        scored = sorted(
            (-(_fold_dot(qv, cvec)) / nrm, cid) for cid, cvec, nrm in cents
        )
        for _, cid in scored[:n_probe]:
            probe_pairs.append((int(r["i"]), int(cid)))

    luts: list[dict[int, list[int]]] = []
    for j in range(m):
        per_q: dict[int, list[int]] = {}
        for r in qrows:
            qv = [float(x) for x in r["v"]][j * d_sub : (j + 1) * d_sub]
            qq = _fold_dot(qv, qv)
            cells = []
            for _, coords, half_sq in books[j]:
                d = qq - 2 * _fold_dot(qv, coords) + 2.0 * half_sq
                cells.append(int(math.floor(d * 1000000000 + 0.5)))
            per_q[int(r["i"])] = cells
        luts.append(per_q)

    # a static IN-list of the probed cells reaches the scan as a
    # partition filter when the codes relation is a cell-partitioned
    # parquet read — only the probed cells' files are listed/read; on
    # the in-memory form it is a cheap redundant filter
    probed_cells = sorted({c for _, c in probe_pairs})
    if probed_cells:
        codes = codes.filter(F.col("cell").isin(probed_cells))
    # LUT as a broadcast column on the probe rows, not literals — same
    # rationale and bit-identical values as ann_pq's r13 change: the
    # literal form parsed/analyzed/codegen'd |queries| x ks x m BIGINT
    # nodes per plan; the broadcast is |probe_pairs| rows x ~m*ks longs.
    lut_by_q = {
        qid: [luts[j][qid] for j in range(m)]
        for qid in (sorted(luts[0]) if luts and luts[0] else [])
    }
    qcell = queries.sparkSession.createDataFrame(
        [(q, c, lut_by_q[q]) for q, c in probe_pairs],
        "query_id long, cell long, __lut__ array<array<bigint>>",
    )
    joined = codes.join(F.broadcast(qcell), "cell").filter(
        F.col("query_id") != F.col("corpus_id")
    )
    qdist = None
    for j in range(m):
        term = F.element_at(
            F.element_at(F.col("__lut__"), j + 1),
            F.col(f"code{j}").cast("int") + 1,
        )
        qdist = term if qdist is None else qdist + term
    if qdist is None:
        qdist = F.lit(None).cast("bigint")
    sims = joined.select("query_id", "corpus_id", qdist.alias("qdist"))
    # two-phase exact top-k per query, ascending distance (the shape
    # ann_pq/l2_topk use: partitions keep local k, only k*partitions
    # candidate rows shuffle)
    keyed = sims.select(
        "query_id",
        F.struct(
            F.col("qdist").alias("qdist"), F.col("corpus_id").alias("corpus_id")
        ).alias("sk"),
        F.spark_partition_id().alias("pid"),
    )
    partial = keyed.groupBy("query_id", "pid").agg(
        F.slice(F.sort_array(F.collect_list("sk"), asc=True), 1, k).alias("top")
    )
    merged = partial.groupBy("query_id").agg(
        F.slice(
            F.sort_array(F.flatten(F.collect_list("top")), asc=True), 1, k
        ).alias("top")
    )
    return merged.select(
        "query_id", F.posexplode("top").alias("pos", "sk")
    ).select(
        "query_id",
        F.col("sk.corpus_id").alias("corpus_id"),
        (F.col("pos") + 1).cast("long").alias("rank"),
        F.col("sk.qdist").alias("qdist"),
    )


def _ivfpq_replay_ctes(
    table: str,
    n_centroids: int,
    n_probe: int,
    m: int,
    ks: int,
    n_queries: int,
    dim: int,
) -> str:
    """Shared DuckDB CTE chain rebuilding the IVF-PQ index end-to-end:
    the IVF coarse assignment + probing (ann_ivf's replay), the PQ
    encoding (ann_pq's replay), and the ADC distances restricted to the
    probed cells' members.  Ends at ``ivfpq_ranked``."""
    d_sub = dim // m
    return f"""
    cent AS (
      SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cv
      FROM {table} ORDER BY vec_id LIMIT {n_centroids}
    ),
    c AS (SELECT vec_id AS corpus_id, CAST(embedding AS DOUBLE[]) AS v FROM {table}),
    cassign AS (
      SELECT corpus_id, cid,
             row_number() OVER (
               PARTITION BY corpus_id
               ORDER BY list_dot_product(v, cv) / sqrt(list_dot_product(cv, cv)) DESC,
                        cid ASC
             ) AS rn
      FROM c CROSS JOIN cent
    ),
    cells AS (SELECT corpus_id, cid FROM cassign WHERE rn = 1),
    q AS (
      SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
      FROM {table} ORDER BY vec_id LIMIT {n_queries}
    ),
    probes AS (
      SELECT query_id, cid FROM (
        SELECT query_id, cid,
               row_number() OVER (
                 PARTITION BY query_id
                 ORDER BY list_dot_product(qv, cv) / sqrt(list_dot_product(cv, cv)) DESC,
                          cid ASC
               ) AS rn
        FROM q CROSS JOIN cent
      ) WHERE rn <= {n_probe}
    ),
    cand AS (
      SELECT p.query_id, ce.corpus_id
      FROM probes p JOIN cells ce ON ce.cid = p.cid
      WHERE p.query_id <> ce.corpus_id
    ),
    js AS (SELECT unnest(range(0, {m})) AS j),
    cb AS (
      SELECT row_number() OVER (ORDER BY vec_id) - 1 AS code,
             CAST(embedding AS DOUBLE[]) AS cv
      FROM (SELECT * FROM {table} ORDER BY vec_id LIMIT {ks})
    ),
    subs AS (
      SELECT code, j, list_slice(cv, j * {d_sub} + 1, j * {d_sub} + {d_sub}) AS scv
      FROM cb CROSS JOIN js
    ),
    csub AS (
      SELECT corpus_id, j, list_slice(v, j * {d_sub} + 1, j * {d_sub} + {d_sub}) AS sv
      FROM c CROSS JOIN js
    ),
    enc AS (
      SELECT corpus_id, j, code FROM (
        SELECT corpus_id, cs.j, s.code,
               row_number() OVER (
                 PARTITION BY corpus_id, cs.j
                 ORDER BY 0.5 * list_dot_product(s.scv, s.scv)
                            - list_dot_product(cs.sv, s.scv) ASC,
                          s.code ASC
               ) AS rn
        FROM csub cs JOIN subs s ON cs.j = s.j
      ) WHERE rn = 1
    ),
    qsub AS (
      SELECT query_id, j, list_slice(qv, j * {d_sub} + 1, j * {d_sub} + {d_sub}) AS sq
      FROM q CROSS JOIN js
    ),
    pair_d AS (
      SELECT ca.query_id, ca.corpus_id,
             CAST(sum(CAST(floor(
               (list_dot_product(qs.sq, qs.sq)
                - 2 * list_dot_product(qs.sq, s.scv)
                + list_dot_product(s.scv, s.scv)) * 1000000000 + 0.5
             ) AS BIGINT)) AS BIGINT) AS qdist
      FROM cand ca
      JOIN qsub qs ON qs.query_id = ca.query_id
      JOIN enc e ON e.corpus_id = ca.corpus_id AND e.j = qs.j
      JOIN subs s ON s.j = e.j AND s.code = e.code
      GROUP BY 1, 2
    ),
    ivfpq_ranked AS (
      SELECT query_id, corpus_id, qdist,
             row_number() OVER (
               PARTITION BY query_id ORDER BY qdist ASC, corpus_id ASC
             ) AS rank
      FROM pair_d
    )"""


def ann_ivfpq_oracle_sql(
    table: str,
    n_centroids: int,
    n_probe: int,
    m: int,
    ks: int,
    k: int,
    n_queries: int,
    dim: int = 64,
) -> str:
    "DuckDB twin of :func:`ann_ivfpq`: full IVF + PQ index replay."
    return (
        "WITH"
        + _ivfpq_replay_ctes(table, n_centroids, n_probe, m, ks, n_queries, dim)
        + f"""
    SELECT query_id, corpus_id, CAST(rank AS BIGINT) AS rank, qdist
    FROM ivfpq_ranked WHERE rank <= {k}
    ORDER BY query_id, rank
    """
    )


def ann_ivfpq_recall_oracle_sql(
    table: str,
    n_centroids: int,
    n_probe: int,
    m: int,
    ks: int,
    k: int,
    n_queries: int,
    dim: int = 64,
) -> str:
    """DuckDB twin of the IVF-PQ recall gate: exact-L2 top-k over ALL
    pairs as truth (IVF pruning loss must count against recall, so the
    truth side is NOT restricted to probed cells), IVF-PQ top-k as the
    approximation, one (n_exact, n_hit, recall_at_k) row."""
    return (
        "WITH"
        + _ivfpq_replay_ctes(table, n_centroids, n_probe, m, ks, n_queries, dim)
        + f""",
    exact AS (
      SELECT query_id, corpus_id FROM (
        SELECT q.query_id, c.corpus_id,
               row_number() OVER (
                 PARTITION BY q.query_id
                 ORDER BY CAST(floor((list_dot_product(q.qv, q.qv)
                     - 2 * list_dot_product(q.qv, c.v)
                     + list_dot_product(c.v, c.v)) * 1000000000 + 0.5) AS BIGINT)
                   ASC, c.corpus_id ASC
               ) AS rn
        FROM q CROSS JOIN c WHERE q.query_id <> c.corpus_id
      ) WHERE rn <= {k}
    ),
    approx AS (SELECT query_id, corpus_id FROM ivfpq_ranked WHERE rank <= {k})
    SELECT CAST(count(*) AS BIGINT) AS n_exact,
           CAST(sum(CASE WHEN a.corpus_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_hit,
           floor(CAST(sum(CASE WHEN a.corpus_id IS NOT NULL THEN 1 ELSE 0 END)
                      AS DOUBLE) / CAST(count(*) AS DOUBLE) * 10000 + 0.5)
             / 10000.0 AS recall_at_k
    FROM exact e
    LEFT JOIN approx a USING (query_id, corpus_id)
    """
    )


def hard_negatives(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Hard-negative mining: for every query vector, the top-k most
    cosine-similar corpus vectors with a DIFFERENT label — the standard
    contrastive-training data step (similar-but-wrong examples teach the
    boundary; random negatives are too easy).  Same broadcast +
    two-phase top-k shape as cosine_topk with the label inequality
    folded into the join condition, so mismatched labels prune BEFORE
    any similarity arithmetic runs.  At scale the exact form here is the
    per-batch miner (queries are batch-sized); corpus-wide mining would
    front an ANN index (ann_ivfpq) with the same label filter on the
    candidate join.  Ties break on the lower corpus id.  Returns
    (query_id, corpus_id, rank, cos)."""
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(label_col).alias("q_label"),
        F.col(vec_col).alias("qv"),
    )
    c = corpus.select(
        F.col(id_col).alias("corpus_id"),
        F.col(label_col).alias("c_label"),
        F.col(vec_col).alias("cv"),
    )
    sims = (
        c.join(
            F.broadcast(q),
            (F.col("query_id") != F.col("corpus_id"))
            & (F.col("q_label") != F.col("c_label")),
        )
        .withColumn("cos", cosine(F.col("qv"), F.col("cv")))
    )
    return _topk_per_query(sims, k)


def hard_negatives_oracle_sql(table: str, k: int, n_queries: int) -> str:
    """DuckDB twin of :func:`hard_negatives` with queries = the n lowest
    vec_ids (same fold order, same tie-breaks, same label inequality)."""
    return f"""
    WITH q AS (
      SELECT vec_id AS query_id, label AS q_label,
             CAST(embedding AS DOUBLE[]) AS qv
      FROM {table} ORDER BY vec_id LIMIT {n_queries}
    ),
    c AS (
      SELECT vec_id AS corpus_id, label AS c_label,
             CAST(embedding AS DOUBLE[]) AS cv
      FROM {table}
    ),
    sims AS (
      SELECT query_id, corpus_id,
             list_dot_product(qv, cv)
               / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) AS cos
      FROM c, q WHERE query_id != corpus_id AND q_label != c_label
    ),
    ranked AS (
      SELECT query_id, corpus_id, cos,
             row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, corpus_id ASC) AS rank
      FROM sims
    )
    SELECT query_id, corpus_id, CAST(rank AS BIGINT) AS rank, round(cos, 4) AS cos
    FROM ranked WHERE rank <= {k}
    """


def ann_ivfpq_rerank(
    corpus: DataFrame,
    queries: DataFrame,
    n_centroids: int = 16,
    n_probe: int = 4,
    m: int = 8,
    ks: int = 16,
    k: int = 5,
    shortlist: int = 50,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The full production ANN serving path: IVF cells prune the scan,
    PQ ADC ranks the probed candidates from m-byte codes, and the top
    ``shortlist`` per query are re-ranked with EXACT L2 on the raw
    vectors — raw floats touched only O(queries * shortlist), never
    corpus-wide, and only for ids the compressed index already
    shortlisted.  This is faiss's IndexIVFPQ + refine step as a
    composition of the two oracle-gated pieces (:func:`ann_ivfpq`,
    the re-rank block of :func:`ann_pq_rerank`).  Output: (query_id,
    corpus_id, rank, qdist) with qdist the exact quantized squared L2
    (agrees with :func:`l2_topk` on shared pairs)."""
    from pyspark.sql import Window

    cand = ann_ivfpq(
        corpus, queries, n_centroids=n_centroids, n_probe=n_probe,
        m=m, ks=ks, k=shortlist, dim=dim, id_col=id_col, vec_col=vec_col,
    ).select("query_id", "corpus_id")
    c = corpus.select(F.col(id_col).alias("corpus_id"), F.col(vec_col).alias("cv"))
    qv = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"))
    d2 = dot(F.col("qv"), F.col("qv")) - 2 * dot(F.col("qv"), F.col("cv")) + dot(
        F.col("cv"), F.col("cv")
    )
    scored = (
        c.join(F.broadcast(cand), "corpus_id")
        .join(F.broadcast(qv), "query_id")
        .withColumn("qdist", F.floor(d2 * 1000000000 + F.lit(0.5)).cast("long"))
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("qdist"), F.asc("corpus_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "corpus_id", "rank", "qdist")
    )


def _ivfpq_rerank_ctes(
    table: str,
    n_centroids: int,
    n_probe: int,
    m: int,
    ks: int,
    shortlist: int,
    n_queries: int,
    dim: int,
) -> str:
    "IVF-PQ replay + shortlist + exact re-rank, ending at CTE ``rr``."
    return (
        _ivfpq_replay_ctes(table, n_centroids, n_probe, m, ks, n_queries, dim)
        + f""",
    scand AS (
      SELECT query_id, corpus_id FROM ivfpq_ranked WHERE rank <= {shortlist}
    ),
    rr AS (
      SELECT scand.query_id, scand.corpus_id,
             CAST(floor((list_dot_product(q.qv, q.qv)
                 - 2 * list_dot_product(q.qv, c.v)
                 + list_dot_product(c.v, c.v)) * 1000000000 + 0.5) AS BIGINT)
               AS qdist
      FROM scand
      JOIN q ON q.query_id = scand.query_id
      JOIN c ON c.corpus_id = scand.corpus_id
    )"""
    )


def ann_ivfpq_rerank_oracle_sql(
    table: str,
    n_centroids: int,
    n_probe: int,
    m: int,
    ks: int,
    k: int,
    shortlist: int,
    n_queries: int,
    dim: int = 64,
) -> str:
    "DuckDB twin of :func:`ann_ivfpq_rerank`."
    return (
        "WITH"
        + _ivfpq_rerank_ctes(
            table, n_centroids, n_probe, m, ks, shortlist, n_queries, dim
        )
        + f"""
    SELECT query_id, corpus_id, CAST(rank AS BIGINT) AS rank, qdist FROM (
      SELECT query_id, corpus_id, qdist,
             row_number() OVER (
               PARTITION BY query_id ORDER BY qdist ASC, corpus_id ASC
             ) AS rank
      FROM rr
    ) WHERE rank <= {k}
    ORDER BY query_id, rank
    """
    )


def ann_ivfpq_rerank_recall_oracle_sql(
    table: str,
    n_centroids: int,
    n_probe: int,
    m: int,
    ks: int,
    k: int,
    shortlist: int,
    n_queries: int,
    dim: int = 64,
) -> str:
    """DuckDB twin of the IVF-PQ rerank recall gate (exact-L2 all-pairs
    truth — both pruning layers AND the shortlist cut count against the
    number)."""
    return (
        "WITH"
        + _ivfpq_rerank_ctes(
            table, n_centroids, n_probe, m, ks, shortlist, n_queries, dim
        )
        + f""",
    approx AS (
      SELECT query_id, corpus_id FROM (
        SELECT query_id, corpus_id,
               row_number() OVER (
                 PARTITION BY query_id ORDER BY qdist ASC, corpus_id ASC
               ) AS rank
        FROM rr
      ) WHERE rank <= {k}
    ),
    exact AS (
      SELECT query_id, corpus_id FROM (
        SELECT q.query_id, c.corpus_id,
               row_number() OVER (
                 PARTITION BY q.query_id
                 ORDER BY CAST(floor((list_dot_product(q.qv, q.qv)
                     - 2 * list_dot_product(q.qv, c.v)
                     + list_dot_product(c.v, c.v)) * 1000000000 + 0.5) AS BIGINT)
                   ASC, c.corpus_id ASC
               ) AS rn
        FROM q CROSS JOIN c
        WHERE q.query_id <> c.corpus_id
      ) WHERE rn <= {k}
    )
    SELECT CAST(count(*) AS BIGINT) AS n_exact,
           CAST(sum(CASE WHEN a.corpus_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_hit,
           floor(CAST(sum(CASE WHEN a.corpus_id IS NOT NULL THEN 1 ELSE 0 END)
                      AS DOUBLE) / CAST(count(*) AS DOUBLE) * 10000 + 0.5)
             / 10000.0 AS recall_at_k
    FROM exact e
    LEFT JOIN approx a USING (query_id, corpus_id)
    """
    )


def hard_negatives_ann(
    corpus: DataFrame,
    queries: DataFrame,
    n_centroids: int = 16,
    n_probe: int = 4,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Corpus-scale hard-negative mining: :func:`hard_negatives` fronted
    by the IVF coarse index — candidates come ONLY from the query's
    ``n_probe`` nearest cells (where the hard negatives live, by
    construction: hard means nearby), the label-mismatch filter rides
    the cell equi-join, and exact cosine ranks just those candidates.
    Per query the scan drops from |corpus| to |corpus| * n_probe /
    n_centroids — the mining pass a contrastive-training pipeline runs
    over the full corpus, where the exact form stays batch-sized.
    Same conventions as ann_ivf (lowest-id centroids, probe ties to the
    lower cell id) + cosine ties to the lower corpus id.  Returns
    (query_id, corpus_id, rank, cos)."""
    cents = _centroid_literals(corpus, n_centroids, id_col, vec_col)
    ranked = _cell_rank_sql(vec_col, cents)
    # corpus-side cell assignment in one Arrow pass (r13) — see ann_ivf
    c = _ivf_cell_assign(
        corpus.select(
            F.col(id_col).alias("corpus_id"),
            F.col(label_col).alias("c_label"),
            F.col(vec_col).alias("cv"),
        ),
        cents,
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(label_col).alias("q_label"),
        F.col(vec_col).alias("qv"),
        F.explode(F.expr(f"slice({ranked}, 1, {n_probe})")).alias("__cell_s"),
    ).select(
        "query_id", "q_label", "qv", F.col("__cell_s.cid").alias("cell")
    )
    sims = (
        c.join(F.broadcast(q), "cell")
        .filter(
            (F.col("query_id") != F.col("corpus_id"))
            & (F.col("q_label") != F.col("c_label"))
        )
        .withColumn("cos", cosine(F.col("qv"), F.col("cv")))
    )
    return _topk_per_query(sims, k)


def hard_negatives_ann_oracle_sql(
    table: str, n_centroids: int, n_probe: int, k: int, n_queries: int
) -> str:
    """DuckDB twin of :func:`hard_negatives_ann` (ann_ivf's replay plus
    the label-mismatch filter)."""
    return f"""
    WITH cent AS (
      SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cv
      FROM {table} ORDER BY vec_id LIMIT {n_centroids}
    ),
    c AS (
      SELECT vec_id AS corpus_id, label AS c_label,
             CAST(embedding AS DOUBLE[]) AS v
      FROM {table}
    ),
    assign AS (
      SELECT corpus_id, cid,
             row_number() OVER (
               PARTITION BY corpus_id
               ORDER BY list_dot_product(v, cv) / sqrt(list_dot_product(cv, cv)) DESC,
                        cid ASC
             ) AS rn
      FROM c CROSS JOIN cent
    ),
    cells AS (SELECT corpus_id, cid FROM assign WHERE rn = 1),
    q AS (
      SELECT vec_id AS query_id, label AS q_label,
             CAST(embedding AS DOUBLE[]) AS qv
      FROM {table} ORDER BY vec_id LIMIT {n_queries}
    ),
    probes AS (
      SELECT query_id, cid FROM (
        SELECT query_id, cid,
               row_number() OVER (
                 PARTITION BY query_id
                 ORDER BY list_dot_product(qv, cv) / sqrt(list_dot_product(cv, cv)) DESC,
                          cid ASC
               ) AS rn
        FROM q CROSS JOIN cent
      ) WHERE rn <= {n_probe}
    ),
    sims AS (
      SELECT q.query_id, c.corpus_id,
             list_dot_product(q.qv, c.v)
               / (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(c.v, c.v))) AS cos
      FROM probes p
      JOIN cells ce ON ce.cid = p.cid
      JOIN c ON c.corpus_id = ce.corpus_id
      JOIN q ON q.query_id = p.query_id
      WHERE q.query_id != c.corpus_id AND q.q_label != c.c_label
    ),
    ranked AS (
      SELECT query_id, corpus_id, cos,
             row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, corpus_id ASC) AS rank
      FROM sims
    )
    SELECT query_id, corpus_id, CAST(rank AS BIGINT) AS rank, round(cos, 4) AS cos
    FROM ranked WHERE rank <= {k}
    """


def write_ivfpq_index(
    corpus: DataFrame,
    path: str,
    n_centroids: int = 16,
    m: int = 8,
    ks: int = 16,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Persist the IVF-PQ index: the (corpus_id, code*, cell) relation
    written as parquet PARTITIONED BY cell (so a query's probed cells
    prune at file listing — untouched cells are never read), plus a
    JSON sidecar with the coarse centroids and PQ codebooks.  Build
    once over the corpus, query many times with
    :func:`ann_ivfpq_query_index` — the build-scan never repeats per
    query, which is the entire point of an ANN index at 100 TB (the
    in-memory :func:`ann_ivfpq` re-encodes per call; this form is what
    a serving pipeline deploys)."""
    import json

    d_sub = dim // m
    cents = _centroid_literals(corpus, n_centroids, id_col, vec_col)
    books = _pq_codebooks(corpus, m, ks, dim, id_col, vec_col)
    codes = _ivfpq_encode_arrow(corpus, cents, books, dim, id_col, vec_col)
    codes.write.mode("overwrite").partitionBy("cell").parquet(f"{path}/codes")
    model = {
        "dim": dim,
        "m": m,
        "cents": [[cid, vec, nrm] for cid, vec, nrm in cents],
        "books": [
            [[code, coords, hs] for code, coords, hs in book] for book in books
        ],
    }
    # repr round-trips doubles exactly through json (json floats are
    # repr-based), so the reloaded literals are bit-identical
    jvm_safe = json.dumps(model)
    sc = corpus.sparkSession.sparkContext
    # write the sidecar through the Hadoop FS API so the index works on
    # any Spark-supported filesystem, not just the local one
    jpath = sc._jvm.org.apache.hadoop.fs.Path(f"{path}/model.json")
    fs = jpath.getFileSystem(sc._jsc.hadoopConfiguration())
    out = fs.create(jpath, True)
    out.write(bytearray(jvm_safe.encode("utf-8")))
    out.close()


def ann_ivfpq_query_index(
    spark,
    path: str,
    queries: DataFrame,
    n_probe: int = 4,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Query a persisted IVF-PQ index (:func:`write_ivfpq_index`):
    reload the sidecar model, read ONLY the probed cells' partitions of
    the codes relation (the static probed-cell IN-list reaches the scan
    as a PartitionFilter — asserted by test), and score with the shared
    ADC path.  Results are identical to the in-memory
    :func:`ann_ivfpq` at the same parameters (asserted by test)."""
    import json

    # the sidecar is one JSON line; spark.read.text works on any
    # Spark-supported filesystem (wholetext keeps it a single row)
    model = json.loads(
        spark.read.option("wholetext", "true")
        .text(f"{path}/model.json")
        .collect()[0][0]
    )
    cents = [(int(c), [float(x) for x in v], float(nrm)) for c, v, nrm in model["cents"]]
    books = [
        [(int(code), [float(x) for x in coords], float(hs)) for code, coords, hs in book]
        for book in model["books"]
    ]
    codes = spark.read.parquet(f"{path}/codes")
    return _ivfpq_score_codes(
        codes, queries, cents, books, n_probe, k,
        int(model["dim"]), id_col, vec_col,
    )


def append_to_ivfpq_index(
    new_vectors: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Index maintenance: encode NEW vectors with the persisted sidecar
    model (same centroids, same codebooks — no retrain) and append them
    to the cell partitions.  This is how a production IVF-PQ index
    absorbs a daily crawl: quantizer stability is what makes the codes
    comparable across appends, and dynamic partition overwrite is NOT
    used — appends only add files inside each cell directory, so a
    concurrent reader never sees a cell disappear.  ATOMICITY: the
    append is ONE parquet job, so the Hadoop output committer already
    gives it all-or-nothing semantics — a crashed append leaves only
    _temporary files readers never see, and retrying is safe (unlike
    the multi-component search index, which needed staged generation
    commits — retrieval.append_to_search_index).  Retrain (rewrite
    via :func:`write_ivfpq_index`) when drift
    (:func:`adtl_spark.operators.monitor.centroid_drift` on the new
    batch vs the index corpus) says the quantizer no longer fits."""
    import json

    spark = new_vectors.sparkSession
    model = json.loads(
        spark.read.option("wholetext", "true")
        .text(f"{path}/model.json")
        .collect()[0][0]
    )
    dim, m = int(model["dim"]), int(model["m"])
    d_sub = dim // m
    cents = [
        (int(c), [float(x) for x in v], float(nrm))
        for c, v, nrm in model["cents"]
    ]
    books = [
        [(int(code), [float(x) for x in coords], float(hs))
         for code, coords, hs in book]
        for book in model["books"]
    ]
    codes = _ivfpq_encode_arrow(
        new_vectors, cents, books, dim, id_col, vec_col
    )
    codes.write.mode("append").partitionBy("cell").parquet(f"{path}/codes")


def cosine_truncated_topk(
    corpus: DataFrame,
    queries: DataFrame,
    d_keep: int,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Dimension-truncated cosine top-k: score on only the FIRST
    ``d_keep`` coordinates — the matryoshka-style cheap index (half the
    dims = half the bytes and FLOPs per candidate).  Whether that is
    safe is an empirical property of the embedding model: matryoshka-
    trained embeddings concentrate information in the prefix; generic
    embeddings do not — this corpus's random-ish vectors measure
    recall@5 0.32 at d_keep=32 of 64 (the recall gate records it), i.e.
    the trade is measured, not assumed.  Same broadcast + two-phase
    top-k shape as cosine_topk."""
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.slice(F.col(vec_col), 1, d_keep).alias("qv"),
    )
    c = corpus.select(
        F.col(id_col).alias("corpus_id"),
        F.slice(F.col(vec_col), 1, d_keep).alias("cv"),
    )
    sims = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("corpus_id"))
        .withColumn("cos", cosine(F.col("qv"), F.col("cv")))
    )
    return _topk_per_query(sims, k)


def ann_truncation_recall_oracle_sql(
    table: str, d_keep: int, k: int, n_queries: int
) -> str:
    """DuckDB twin of the truncation recall gate: full-dim cosine top-k
    truth vs first-``d_keep``-dims cosine top-k, one recall row."""
    return f"""
    WITH q AS (
      SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
      FROM {table} ORDER BY vec_id LIMIT {n_queries}
    ),
    c AS (SELECT vec_id AS corpus_id, CAST(embedding AS DOUBLE[]) AS cv FROM {table}),
    t AS (
      SELECT query_id, corpus_id FROM (
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
      SELECT query_id, corpus_id FROM (
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
    )
    SELECT CAST(count(*) AS BIGINT) AS n_exact,
           CAST(sum(CASE WHEN a.corpus_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_hit,
           floor(CAST(sum(CASE WHEN a.corpus_id IS NOT NULL THEN 1 ELSE 0 END)
                      AS DOUBLE) / CAST(count(*) AS DOUBLE) * 10000 + 0.5)
             / 10000.0 AS recall_at_k
    FROM t LEFT JOIN a USING (query_id, corpus_id)
    """


def ann_ivfpq_residual(
    corpus: DataFrame,
    queries: DataFrame,
    n_centroids: int = 16,
    n_probe: int = 4,
    m: int = 8,
    ks: int = 16,
    k: int = 5,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-PQ with RESIDUAL encoding — the true IVFADC of Jegou et al.
    2011 §V.A (faiss's default ``by_residual=True``): each vector's PQ
    codes quantize v - c(v) (its offset from its cell centroid), not v
    itself, so the codebook spends its resolution on within-cell
    structure instead of re-describing cell positions.  Queries build a
    LUT PER PROBED CELL from the query's residual against that cell —
    the asymmetric distance then approximates the exact within-cell
    geometry.  Measured recall@5 on this corpus: 0.44 vs 0.36 for the
    no-residual form at identical (16, 4, ks=64) parameters — the gain
    residual encoding exists to buy (recall gate records it).

    Scale shape matches :func:`ann_ivfpq` — ONE narrow encode pass
    (cell argmax, centroid-map lookup, zip_with subtract, m argmins),
    broadcast query-side state, integer ADC adds — with one upgrade:
    the per-(query, cell) LUTs ride the broadcast (query_id, cell)
    RELATION as array columns instead of expression literals, so plan
    size is O(1) in queries * probes * m * ks.

    Determinism: residuals subtract coordinate-wise in the same order
    in python / Spark zip_with / the DuckDB replay; everything else
    inherits ann_ivfpq's conventions.  Returns (query_id, corpus_id,
    rank, qdist)."""
    import math

    d_sub = dim // m
    # one driver collect seeds BOTH the coarse quantizer and the residual
    # codebooks (prefixes of the same lowest-id relation)
    seed_all = _lowest_rows(corpus, max(n_centroids, ks), id_col, vec_col)
    cents = _centroid_literals(
        corpus, n_centroids, id_col, vec_col, rows=seed_all
    )
    cent_by_id = {cid: cvec for cid, cvec, _ in cents}

    def _fold_dot(a: list[float], b: list[float]) -> float:
        acc = 0.0
        for x, y in zip(a, b):
            acc += x * y
        return acc

    def _cell_of(v: list[float]) -> int:
        return sorted(
            (-(_fold_dot(v, cvec)) / nrm, cid) for cid, cvec, nrm in cents
        )[0][1]

    # residual codebooks: subspace j's codebook is the j-th sub-slice of
    # the ks lowest-id vectors' RESIDUALS (v - centroid of v's own cell)
    # — rebuildable from the raw corpus, so the oracle replays it
    seed_rows = seed_all[:ks]
    books: list[list[tuple[int, list[float], float]]] = []
    seed_res = []
    for r in seed_rows:
        v = [float(x) for x in r["v"]]
        c = cent_by_id[_cell_of(v)]
        seed_res.append([x - y for x, y in zip(v, c)])
    for j in range(m):
        cells = []
        for code, rv in enumerate(seed_res):
            coords = rv[j * d_sub : (j + 1) * d_sub]
            cells.append((code, coords, _half_sq(coords)))
        books.append(cells)

    # index build: cell + residual + m codes, one narrow Arrow pass
    # (_ivfpq_encode_arrow with residual=True — bit-identical to the old
    # cent_map/zip_with/_pq_cell_sql expression chain)
    codes = _ivfpq_encode_arrow(
        corpus, cents, books, dim, id_col, vec_col, residual=True
    )

    # query-side: per (query, PROBED cell), the residual LUTs as DATA on
    # the broadcast relation (query_id, cell, lut0..lut{m-1})
    qrows = queries.select(
        F.col(id_col).alias("i"), F.col(vec_col).alias("v")
    ).collect()
    lut_rows = []
    for r in qrows:
        qv = [float(x) for x in r["v"]]
        probed = [
            cid
            for _, cid in sorted(
                (-(_fold_dot(qv, cvec)) / nrm, cid) for cid, cvec, nrm in cents
            )[:n_probe]
        ]
        for cid in probed:
            qr = [x - y for x, y in zip(qv, cent_by_id[cid])]
            luts = []
            for j in range(m):
                rj = qr[j * d_sub : (j + 1) * d_sub]
                qq = _fold_dot(rj, rj)
                luts.append(
                    [
                        int(
                            math.floor(
                                (qq - 2 * _fold_dot(rj, coords) + 2.0 * hs)
                                * 1000000000
                                + 0.5
                            )
                        )
                        for _, coords, hs in books[j]
                    ]
                )
            lut_rows.append((int(r["i"]), int(cid), *luts))
    lut_schema = "query_id long, cell long, " + ", ".join(
        f"lut{j} array<long>" for j in range(m)
    )
    qcell = queries.sparkSession.createDataFrame(lut_rows, lut_schema)
    probed_cells = sorted({row[1] for row in lut_rows})
    pruned = (
        codes.filter(F.col("cell").isin(probed_cells))
        if probed_cells
        else codes
    )
    joined = pruned.join(F.broadcast(qcell), "cell").filter(
        F.col("query_id") != F.col("corpus_id")
    )
    total = " + ".join(
        f"element_at(`lut{j}`, CAST(`code{j}` AS INT) + 1)" for j in range(m)
    )
    sims = joined.select(
        "query_id", "corpus_id", F.expr(total).alias("qdist")
    )
    keyed = sims.select(
        "query_id",
        F.struct(
            F.col("qdist").alias("qdist"), F.col("corpus_id").alias("corpus_id")
        ).alias("sk"),
        F.spark_partition_id().alias("pid"),
    )
    partial = keyed.groupBy("query_id", "pid").agg(
        F.slice(F.sort_array(F.collect_list("sk"), asc=True), 1, k).alias("top")
    )
    merged = partial.groupBy("query_id").agg(
        F.slice(
            F.sort_array(F.flatten(F.collect_list("top")), asc=True), 1, k
        ).alias("top")
    )
    return merged.select(
        "query_id", F.posexplode("top").alias("pos", "sk")
    ).select(
        "query_id",
        F.col("sk.corpus_id").alias("corpus_id"),
        (F.col("pos") + 1).cast("long").alias("rank"),
        F.col("sk.qdist").alias("qdist"),
    )


def _ivfpq_residual_replay_ctes(
    table: str,
    n_centroids: int,
    n_probe: int,
    m: int,
    ks: int,
    n_queries: int,
    dim: int,
) -> str:
    """DuckDB CTE chain rebuilding the RESIDUAL IVF-PQ index: coarse
    assignment + probing as in _ivfpq_replay_ctes, then residual
    codebooks (seed residuals against the seeds' own cells), residual
    encoding, and per-(query, cell) residual ADC.  Ends at
    ``ivfpq_ranked``."""
    d_sub = dim // m
    res = (
        "list_transform(range(1, {dim} + 1), "
        "i -> {v}[CAST(i AS INT)] - ce.cv[CAST(i AS INT)])"
    )
    return f"""
    cent AS (
      SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cv
      FROM {table} ORDER BY vec_id LIMIT {n_centroids}
    ),
    c AS (SELECT vec_id AS corpus_id, CAST(embedding AS DOUBLE[]) AS v FROM {table}),
    cassign AS (
      SELECT corpus_id, cid,
             row_number() OVER (
               PARTITION BY corpus_id
               ORDER BY list_dot_product(v, cv) / sqrt(list_dot_product(cv, cv)) DESC,
                        cid ASC
             ) AS rn
      FROM c CROSS JOIN cent
    ),
    cells AS (SELECT corpus_id, cid FROM cassign WHERE rn = 1),
    q AS (
      SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
      FROM {table} ORDER BY vec_id LIMIT {n_queries}
    ),
    probes AS (
      SELECT query_id, cid FROM (
        SELECT query_id, cid,
               row_number() OVER (
                 PARTITION BY query_id
                 ORDER BY list_dot_product(qv, cv) / sqrt(list_dot_product(cv, cv)) DESC,
                          cid ASC
               ) AS rn
        FROM q CROSS JOIN cent
      ) WHERE rn <= {n_probe}
    ),
    cand AS (
      SELECT p.query_id, ce2.corpus_id
      FROM probes p JOIN cells ce2 ON ce2.cid = p.cid
      WHERE p.query_id <> ce2.corpus_id
    ),
    js AS (SELECT unnest(range(0, {m})) AS j),
    cb0 AS (
      SELECT row_number() OVER (ORDER BY vec_id) - 1 AS code,
             vec_id, CAST(embedding AS DOUBLE[]) AS v
      FROM (SELECT * FROM {table} ORDER BY vec_id LIMIT {ks})
    ),
    cbres AS (
      SELECT code, {res.format(dim=dim, v="cb0.v")} AS rv
      FROM cb0
      JOIN cells cl ON cl.corpus_id = cb0.vec_id
      JOIN cent ce ON ce.cid = cl.cid
    ),
    subs AS (
      SELECT code, j, list_slice(rv, j * {d_sub} + 1, j * {d_sub} + {d_sub}) AS scv
      FROM cbres CROSS JOIN js
    ),
    cres AS (
      SELECT c.corpus_id, {res.format(dim=dim, v="c.v")} AS rv
      FROM c
      JOIN cells cl ON cl.corpus_id = c.corpus_id
      JOIN cent ce ON ce.cid = cl.cid
    ),
    csub AS (
      SELECT corpus_id, j, list_slice(rv, j * {d_sub} + 1, j * {d_sub} + {d_sub}) AS sv
      FROM cres CROSS JOIN js
    ),
    enc AS (
      SELECT corpus_id, j, code FROM (
        SELECT corpus_id, cs.j, s.code,
               row_number() OVER (
                 PARTITION BY corpus_id, cs.j
                 ORDER BY 0.5 * list_dot_product(s.scv, s.scv)
                            - list_dot_product(cs.sv, s.scv) ASC,
                          s.code ASC
               ) AS rn
        FROM csub cs JOIN subs s ON cs.j = s.j
      ) WHERE rn = 1
    ),
    qres AS (
      SELECT p.query_id, p.cid, {res.format(dim=dim, v="q.qv")} AS rq
      FROM probes p
      JOIN q ON q.query_id = p.query_id
      JOIN cent ce ON ce.cid = p.cid
    ),
    qsub AS (
      SELECT query_id, cid, j,
             list_slice(rq, j * {d_sub} + 1, j * {d_sub} + {d_sub}) AS sq
      FROM qres CROSS JOIN js
    ),
    pair_d AS (
      SELECT ca.query_id, ca.corpus_id,
             CAST(sum(CAST(floor(
               (list_dot_product(qs.sq, qs.sq)
                - 2 * list_dot_product(qs.sq, s.scv)
                + list_dot_product(s.scv, s.scv)) * 1000000000 + 0.5
             ) AS BIGINT)) AS BIGINT) AS qdist
      FROM cand ca
      JOIN cells cl ON cl.corpus_id = ca.corpus_id
      JOIN qsub qs ON qs.query_id = ca.query_id AND qs.cid = cl.cid
      JOIN enc e ON e.corpus_id = ca.corpus_id AND e.j = qs.j
      JOIN subs s ON s.j = e.j AND s.code = e.code
      GROUP BY 1, 2
    ),
    ivfpq_ranked AS (
      SELECT query_id, corpus_id, qdist,
             row_number() OVER (
               PARTITION BY query_id ORDER BY qdist ASC, corpus_id ASC
             ) AS rank
      FROM pair_d
    )"""


def ann_ivfpq_residual_oracle_sql(
    table: str,
    n_centroids: int,
    n_probe: int,
    m: int,
    ks: int,
    k: int,
    n_queries: int,
    dim: int = 64,
) -> str:
    "DuckDB twin of :func:`ann_ivfpq_residual`: full residual replay."
    return (
        "WITH"
        + _ivfpq_residual_replay_ctes(
            table, n_centroids, n_probe, m, ks, n_queries, dim
        )
        + f"""
    SELECT query_id, corpus_id, CAST(rank AS BIGINT) AS rank, qdist
    FROM ivfpq_ranked WHERE rank <= {k}
    ORDER BY query_id, rank
    """
    )


def ann_ivfpq_residual_recall_oracle_sql(
    table: str,
    n_centroids: int,
    n_probe: int,
    m: int,
    ks: int,
    k: int,
    n_queries: int,
    dim: int = 64,
) -> str:
    """DuckDB twin of the residual IVF-PQ recall gate (all-pairs exact
    L2 truth, both pruning layers + quantization counted)."""
    return (
        "WITH"
        + _ivfpq_residual_replay_ctes(
            table, n_centroids, n_probe, m, ks, n_queries, dim
        )
        + f""",
    exact AS (
      SELECT query_id, corpus_id FROM (
        SELECT q.query_id, c.corpus_id,
               row_number() OVER (
                 PARTITION BY q.query_id
                 ORDER BY CAST(floor((list_dot_product(q.qv, q.qv)
                     - 2 * list_dot_product(q.qv, c.v)
                     + list_dot_product(c.v, c.v)) * 1000000000 + 0.5) AS BIGINT)
                   ASC, c.corpus_id ASC
               ) AS rn
        FROM q CROSS JOIN c WHERE q.query_id <> c.corpus_id
      ) WHERE rn <= {k}
    ),
    approx AS (SELECT query_id, corpus_id FROM ivfpq_ranked WHERE rank <= {k})
    SELECT CAST(count(*) AS BIGINT) AS n_exact,
           CAST(sum(CASE WHEN a.corpus_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_hit,
           floor(CAST(sum(CASE WHEN a.corpus_id IS NOT NULL THEN 1 ELSE 0 END)
                      AS DOUBLE) / CAST(count(*) AS DOUBLE) * 10000 + 0.5)
             / 10000.0 AS recall_at_k
    FROM exact e
    LEFT JOIN approx a USING (query_id, corpus_id)
    """
    )
